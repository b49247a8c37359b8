"""NumPy ``.npy`` / ``.npz`` array-shard scan — the lab-adjacent tensor
shard format (public spec: numpy "NEP 1 / lib.format": ``\\x93NUMPY``
magic, version, little-endian header length, a Python-literal header
dict ``{'descr', 'fortran_order', 'shape'}``, then raw C-order bytes).

Scale shape: like safetensors, the header plans everything — rows of a
2-D ``[n, d]`` array are a fixed ``d * itemsize`` stride, so one file
splits into byte-range row tasks with O(rows_per_split * d) task
memory.  ``.npz`` is a ZIP container of ``.npy`` members (the engine's
central-directory machinery, ``sources/zipsrc.py``): members STORED
uncompressed (``np.savez`` default) keep full byte-range row splitting
*inside* the container; DEFLATED members (``np.savez_compressed``) are
a documented whole-member decode per task — parallelism across members
and files, the same cliff contract as ``.jsonl.gz``.

Loud failures: fortran_order arrays (row ranges would be column
ranges), non-2-D tensors asked for as rows, unsupported descrs, header
dicts that aren't literal dicts.
"""

from __future__ import annotations

import ast
import struct
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from h2h_spark.sources.util import list_part_files, scan_splits, strip_scheme

_MAGIC = b"\x93NUMPY"

# normalized descr (endian marker stripped) → spark element DDL
_DESCR_DDL = {
    "f8": "double", "f4": "float", "f2": "float",
    "i8": "bigint", "i4": "int", "i2": "smallint", "i1": "tinyint",
    "u1": "smallint", "b1": "boolean",
}


def parse_npy_header(buf: bytes, origin: str) -> tuple[str, tuple, bool, int]:
    """Parse an ``.npy`` header from its leading bytes: returns
    ``(descr, shape, fortran_order, data_offset)``."""
    if buf[:6] != _MAGIC:
        raise ValueError(f"{origin}: not an .npy file (magic missing)")
    major = buf[6]
    if major == 1:
        (hlen,) = struct.unpack_from("<H", buf, 8)
        data_off = 10 + hlen
    elif major in (2, 3):
        (hlen,) = struct.unpack_from("<I", buf, 8)
        data_off = 12 + hlen
    else:
        raise ValueError(f"{origin}: unsupported .npy format version "
                         f"{major}.{buf[7]}")
    head = buf[data_off - hlen:data_off]
    if len(head) < hlen:
        raise ValueError(f"{origin}: truncated .npy header")
    try:
        meta = ast.literal_eval(head.decode("latin-1").strip())
    except (ValueError, SyntaxError) as e:
        raise ValueError(f"{origin}: malformed .npy header dict: {e}"
                         ) from None
    if not isinstance(meta, dict) or not {
        "descr", "fortran_order", "shape"
    } <= set(meta):
        raise ValueError(f"{origin}: .npy header missing required keys")
    descr = meta["descr"]
    if not isinstance(descr, str):
        raise ValueError(f"{origin}: structured .npy dtypes are not "
                         "supported (descr must be a plain string)")
    return descr, tuple(meta["shape"]), bool(meta["fortran_order"]), data_off


def _descr_key(descr: str, origin: str) -> tuple[str, int, str]:
    """Validate a descr; returns ``(numpy_dtype_str, itemsize, ddl)``."""
    key = descr.lstrip("<>|=")
    if key not in _DESCR_DDL:
        raise ValueError(f"{origin}: unsupported .npy descr {descr!r}")
    itemsize = int(key[1:])
    return descr, itemsize, _DESCR_DDL[key]


def _check_2d(shape: tuple, fortran: bool, origin: str) -> tuple[int, int]:
    if fortran:
        raise ValueError(
            f"{origin}: fortran_order array — row byte-ranges would be "
            "column ranges; transpose at write time"
        )
    if len(shape) != 2:
        raise ValueError(
            f"{origin}: shape {shape} — the row reader needs a 2-D "
            "[n, d] array"
        )
    return int(shape[0]), int(shape[1])


def _rows_to_batches(
    raw: bytes, descr: str, d: int, row_lo: int, n_rows: int, fname: str,
) -> Iterator[pa.RecordBatch]:
    """Decode ``n_rows`` C-order rows starting at global ``row_lo`` into
    bounded Arrow batches."""
    import numpy as np

    arr = np.frombuffer(raw, dtype=descr).reshape(n_rows, d)
    if arr.dtype.byteorder == ">":
        arr = arr.astype(arr.dtype.newbyteorder("<"))
    if arr.dtype.str.endswith("f2"):
        arr = arr.astype("<f4")
    elif arr.dtype.str.endswith("u1"):
        arr = arr.astype("<i2")
    if arr.dtype.kind == "b":
        pa_type = pa.bool_()
        arr = arr.astype(bool)
    else:
        pa_type = pa.from_numpy_dtype(arr.dtype)
    step = max(1, (32 << 20) // max(d * arr.dtype.itemsize, 1))
    for lo in range(0, n_rows, step):
        hi = min(lo + step, n_rows)
        flat = pa.array(arr[lo:hi].reshape(-1), type=pa_type)
        yield pa.record_batch({
            "file": pa.array([fname] * (hi - lo)),
            "row_idx": pa.array(range(row_lo + lo, row_lo + hi),
                                type=pa.int64()),
            "vec": pa.FixedSizeListArray.from_arrays(flat, d)
            .cast(pa.list_(pa_type)),
        })


def _vec_ddl(descr: str, origin: str) -> str:
    return f"file string, row_idx bigint, vec array<{_descr_key(descr, origin)[2]}>"


def _read_rows(
    f, offset: int, descr: str, d: int, row_lo: int, row_hi: int, fname: str
) -> Iterator[pa.RecordBatch]:
    """Rows ``[row_lo, row_hi)`` of the C-order array whose row 0 sits at
    ``offset`` of the open file (or bytes buffer) ``f``."""
    descr, itemsize, _ = _descr_key(descr, fname)
    row_bytes = d * itemsize
    n = row_hi - row_lo
    f.seek(offset + row_lo * row_bytes)
    raw = f.read(n * row_bytes)
    if len(raw) < n * row_bytes:
        raise ValueError(f"{fname}: truncated npy data at row {row_lo}")
    yield from _rows_to_batches(raw, descr, d, row_lo, n, fname)


class NpySplit(NamedTuple):
    path: str
    byte_start: int  # absolute offset of row 0
    descr: str
    d: int
    row_lo: int
    row_hi: int  # exclusive


def _read_npy_split(split: NpySplit) -> Iterator[pa.RecordBatch]:
    with open(strip_scheme(split.path), "rb") as f:
        yield from _read_rows(
            f, split.byte_start, split.descr, split.d, split.row_lo,
            split.row_hi, split.path,
        )


def read_npy(
    spark: SparkSession, path: str, rows_per_split: int = 65536
) -> DataFrame:
    """Rows of every 2-D ``.npy`` file under ``path`` as
    ``(file, row_idx, vec)``; the first file's dtype sets ``vec``'s."""
    files = list_part_files(path, pattern="*.npy")
    if not files:
        raise FileNotFoundError(f"no .npy files under {path}")
    splits, descrs = [], {}
    for fp in sorted(files):
        with open(strip_scheme(fp), "rb") as f:
            descr, shape, fortran, data_off = parse_npy_header(f.read(4096), fp)
        descrs[fp] = descr
        _descr_key(descr, fp)
        n, d = _check_2d(shape, fortran, fp)
        for lo in range(0, max(n, 1), rows_per_split):
            splits.append(
                NpySplit(fp, data_off, descr, d, lo, min(lo + rows_per_split, n))
            )
    return scan_splits(
        spark, splits, _read_npy_split, _vec_ddl(descrs[files[0]], files[0])
    )


# ---------------------------------------------------------------------------
# .npz — ZIP of .npy members.  STORED members keep byte-range row
# splits through the container; DEFLATED members decode whole (one task
# per member), loudly documented.
# ---------------------------------------------------------------------------


def _npz_member(path: str, member: str) -> dict:
    from h2h_spark.sources.zipsrc import read_central_directory

    want = member if member.endswith(".npy") else member + ".npy"
    for m in read_central_directory(strip_scheme(path)):
        if m["name"] == want:
            return m
    raise ValueError(f"{path}: no member {want!r} in the npz archive")


def _npz_data_offset(path: str, m: dict) -> int:
    """Absolute offset of a STORED member's bytes (local-header walk)."""
    with open(strip_scheme(path), "rb") as f:
        f.seek(m["lfh_off"])
        hdr = f.read(30)
        if hdr[:4] != b"PK\x03\x04":
            raise ValueError(f"{path}: bad local header for {m['name']!r}")
        nlen, elen = struct.unpack_from("<HH", hdr, 26)
    return m["lfh_off"] + 30 + nlen + elen


class NpzSplit(NamedTuple):
    path: str
    # the member's central-directory entry (zipsrc.read_central_directory)
    name: str
    method: int
    crc: int
    csize: int
    usize: int
    lfh_off: int
    # row 0 of the npy data: absolute for a STORED member, inside the
    # inflated member for a DEFLATED one
    byte_start: int
    descr: str
    d: int
    row_lo: int
    row_hi: int  # exclusive


def _plan_npz_file(path: str, member: str, rows_per_split: int) -> list[NpzSplit]:
    from h2h_spark.sources.zipsrc import read_member

    m = _npz_member(path, member)
    origin = f"{path}!{m['name']}"
    if m["method"] == 0:
        off = _npz_data_offset(path, m)
        with open(strip_scheme(path), "rb") as f:
            f.seek(off)
            head = f.read(4096)
    elif m["method"] == 8:
        # whole-member decode: one plan-time inflate for the header, and
        # the single task for this member inflates it once more
        off = 0
        with open(strip_scheme(path), "rb") as f:
            head = read_member(f, m)[:4096]
    else:
        raise ValueError(f"{origin}: unsupported zip method {m['method']}")
    descr, shape, fortran, data_off = parse_npy_header(head, origin)
    _descr_key(descr, origin)
    n, d = _check_2d(shape, fortran, origin)
    step = rows_per_split if m["method"] == 0 else max(n, 1)
    return [
        NpzSplit(path, **m, byte_start=off + data_off, descr=descr, d=d,
                 row_lo=lo, row_hi=min(lo + step, n))
        for lo in range(0, max(n, 1), step)
    ]


def _read_npz_split(split: NpzSplit) -> Iterator[pa.RecordBatch]:
    import io

    from h2h_spark.sources.zipsrc import read_member

    fname = f"{split.path}!{split.name}"
    with open(strip_scheme(split.path), "rb") as f:
        # a DEFLATED member is inflated whole; its rows sit in the blob
        src = f if split.method == 0 else io.BytesIO(read_member(f, split._asdict()))
        yield from _read_rows(
            src, split.byte_start, split.descr, split.d, split.row_lo,
            split.row_hi, fname,
        )


def read_npz(
    spark: SparkSession,
    path: str,
    member: str,
    rows_per_split: int = 65536,
) -> DataFrame:
    """Rows of one ``.npy`` member (named with or without the ``.npy``
    suffix) across every ``.npz`` file under ``path``."""
    files = list_part_files(path, pattern="*.npz")
    if not files:
        raise FileNotFoundError(f"no .npz files under {path}")
    if not member:
        raise ValueError("an npz member name is required")
    per_file = {fp: _plan_npz_file(fp, member, rows_per_split) for fp in sorted(files)}
    first = per_file[files[0]][0]
    return scan_splits(
        spark,
        [s for fp in sorted(files) for s in per_file[fp]],
        _read_npz_split,
        _vec_ddl(first.descr, f"{first.path}!{first.name}"),
    )
