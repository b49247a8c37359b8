"""safetensors tensor-shard scan — the de-facto weight/embedding shard
format of the modern ML stack (public spec:
https://github.com/huggingface/safetensors — an 8-byte little-endian
header length, a JSON header mapping tensor name → ``{dtype, shape,
data_offsets}``, then the raw tensor bytes).

Scale shape: the header IS the footer of this format, just at the
front.  Planning reads ONLY the headers (a few KiB per file, the
parquet-footer role); each task then seeks to its row range of a 2-D
tensor — rows of a ``[n, d]`` tensor are a fixed ``d * itemsize``
stride, so one tensor splits into arbitrarily many byte-range tasks
with zero resync logic and O(rows_per_split * d) task memory.  A 100 TB
embedding corpus stored as safetensors shards reads with the same
parallelism as parquet.

Loud failures, never guesses: unknown dtypes, overlapping / gapped
``data_offsets``, shape-byte mismatches, 1-D tensors asked for as rows,
headers that exceed the spec's 100 MB bound.
"""

from __future__ import annotations

import json
import os
import struct
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from h2h_spark.sources.util import list_part_files, scan_splits, strip_scheme

# spec dtype → (numpy dtype string, itemsize, spark element DDL)
_DTYPES = {
    "F64": ("<f8", 8, "double"),
    "F32": ("<f4", 4, "float"),
    "F16": ("<f2", 2, "float"),   # widened to float32 on read
    "BF16": ("<u2", 2, "float"),  # widened bit-exactly to float32
    "I64": ("<i8", 8, "bigint"),
    "I32": ("<i4", 4, "int"),
    "I16": ("<i2", 2, "smallint"),
    "I8": ("<i1", 1, "tinyint"),
    "U8": ("<u1", 1, "smallint"),  # widened (Spark has no uint8)
    "BOOL": ("<u1", 1, "boolean"),
}


def f32_to_bf16_bytes(arr) -> bytes:
    """Encode a float32 array as raw little-endian bfloat16 (numpy has
    no bf16 dtype): round-to-nearest-even on the dropped 16 mantissa
    bits — the conversion ML frameworks use."""
    import numpy as np

    bits = np.ascontiguousarray(arr, dtype="<f4").view("<u4")
    rounded = (bits + 0x7FFF + ((bits >> 16) & 1)).astype("<u4")
    return (rounded >> 16).astype("<u2").tobytes()


def bf16_to_f32(raw_u2):
    """Widen raw bf16 (as little-endian uint16) to float32 — exact: a
    bf16 IS the top half of an f32."""
    import numpy as np

    return (raw_u2.astype("<u4") << 16).view("<f4")

_MAX_HEADER = 100 * 1024 * 1024  # spec: headers above 100 MB are invalid


def write_safetensors(path: str, tensors: dict, metadata: dict | None = None,
                      bf16: tuple = ()) -> None:
    """Fixture/interop writer: spec-conformant single file, tensors laid
    out in the given dict order, offsets contiguous from 0.  Tensor
    names listed in ``bf16`` are float32 inputs stored as bfloat16
    (numpy has no bf16 dtype; round-to-nearest-even conversion)."""
    import numpy as np

    header: dict[str, dict] = {}
    if metadata:
        header["__metadata__"] = {str(k): str(v) for k, v in metadata.items()}
    blobs: list[bytes] = []
    off = 0
    # kind+itemsize sidesteps the '|' byte-order marker of 1-byte dtypes
    rev = {"f8": "F64", "f4": "F32", "f2": "F16", "i8": "I64",
           "i4": "I32", "i2": "I16", "i1": "I8", "u1": "U8", "b1": "BOOL"}
    for name, arr in tensors.items():
        arr = np.ascontiguousarray(arr)
        if name in bf16:
            if arr.dtype.kind != "f":
                raise ValueError(f"tensor {name!r}: bf16 conversion "
                                 "needs float input")
            raw = f32_to_bf16_bytes(arr)
            header[name] = {
                "dtype": "BF16",
                "shape": list(arr.shape),
                "data_offsets": [off, off + len(raw)],
            }
            blobs.append(raw)
            off += len(raw)
            continue
        key = f"{arr.dtype.kind}{arr.dtype.itemsize}"
        if key not in rev:
            raise ValueError(f"tensor {name!r}: unsupported dtype {arr.dtype}")
        if arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("<"))
        raw = arr.tobytes()
        header[name] = {
            "dtype": rev[key],
            "shape": list(arr.shape),
            "data_offsets": [off, off + len(raw)],
        }
        blobs.append(raw)
        off += len(raw)
    hjson = json.dumps(header, sort_keys=True, separators=(",", ":")).encode()
    with open(path, "wb") as f:
        f.write(struct.pack("<Q", len(hjson)))
        f.write(hjson)
        for b in blobs:
            f.write(b)


def read_header(path: str) -> tuple[dict, int]:
    """Read and validate one file's header; returns ``(header_dict,
    data_start_offset)``."""
    with open(strip_scheme(path), "rb") as f:
        raw8 = f.read(8)
        if len(raw8) < 8:
            raise ValueError(f"{path}: truncated safetensors header length")
        (hlen,) = struct.unpack("<Q", raw8)
        if hlen > _MAX_HEADER:
            raise ValueError(
                f"{path}: header length {hlen} exceeds the spec's 100 MB "
                "bound — not a safetensors file"
            )
        hjson = f.read(hlen)
        if len(hjson) < hlen:
            raise ValueError(f"{path}: truncated safetensors header")
        file_size = os.fstat(f.fileno()).st_size
    try:
        header = json.loads(hjson)
    except json.JSONDecodeError as e:
        raise ValueError(f"{path}: header is not valid JSON: {e}") from None
    data_start = 8 + hlen
    # validate: offsets contiguous from 0, byte counts match shapes
    spans = []
    for name, info in header.items():
        if name == "__metadata__":
            continue
        dtype = info.get("dtype")
        if dtype not in _DTYPES:
            raise ValueError(f"{path}: tensor {name!r} has unsupported "
                             f"dtype {dtype!r}")
        shape = info.get("shape")
        if not isinstance(shape, list) or not all(
            isinstance(s, int) and s >= 0 for s in shape
        ):
            raise ValueError(
                f"{path}: tensor {name!r} has missing or malformed "
                f"'shape' {shape!r} (spec: list of non-negative ints)"
            )
        offs = info.get("data_offsets")
        if (not isinstance(offs, (list, tuple)) or len(offs) != 2
                or not all(isinstance(b, int) for b in offs)):
            raise ValueError(
                f"{path}: tensor {name!r} has missing or malformed "
                f"'data_offsets' {offs!r} (spec: [begin, end] ints)"
            )
        b0, b1 = offs
        n = 1
        for s in shape:
            n *= s
        if b1 - b0 != n * _DTYPES[dtype][1]:
            raise ValueError(
                f"{path}: tensor {name!r} byte span {b1 - b0} != "
                f"shape product {n} * itemsize {_DTYPES[dtype][1]}"
            )
        spans.append((b0, b1, name))
    spans.sort()
    prev = 0
    for b0, b1, name in spans:
        if b0 != prev:
            raise ValueError(
                f"{path}: tensor {name!r} starts at {b0}, expected {prev} "
                "(offsets must be contiguous)"
            )
        prev = b1
    if data_start + prev > file_size:
        raise ValueError(f"{path}: tensor data extends past end of file")
    return header, data_start


def safetensors_meta(spark: SparkSession, path: str) -> DataFrame:
    """One row per tensor per ``.safetensors`` file under ``path``:
    ``(file, tensor, dtype, shape, nbytes)``.  Header-only reads,
    distributed one task per file batch."""
    files = sorted(list_part_files(path, pattern="*.safetensors"))
    if not files:
        raise ValueError(f"no .safetensors files under {path}")
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), 64))

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                header, _ = read_header(f)
                for name in sorted(header):
                    if name == "__metadata__":
                        continue
                    info = header[name]
                    b0, b1 = info["data_offsets"]
                    rows.append((f, name, info["dtype"],
                                 [int(s) for s in info["shape"]],
                                 b1 - b0))
            yield pd.DataFrame(
                rows,
                columns=["file", "tensor", "dtype", "shape", "nbytes"],
            )

    return fdf.mapInPandas(
        _run,
        "file string, tensor string, dtype string, "
        "shape array<bigint>, nbytes bigint",
    )


class SafetensorsSplit(NamedTuple):
    path: str
    byte_start: int  # absolute offset of tensor row 0
    dtype: str
    d: int
    row_lo: int
    row_hi: int  # exclusive


def _read_split(split: SafetensorsSplit) -> Iterator[pa.RecordBatch]:
    import numpy as np

    np_s, itemsize, elem = _DTYPES[split.dtype]
    row_bytes = split.d * itemsize
    # bounded batches: <= 32 MiB of vector data per Arrow batch
    batch_rows = max(1, min(split.row_hi - split.row_lo,
                            (32 << 20) // max(row_bytes, 1)))
    with open(strip_scheme(split.path), "rb") as f:
        for lo in range(split.row_lo, split.row_hi, batch_rows):
            hi = min(lo + batch_rows, split.row_hi)
            f.seek(split.byte_start + lo * row_bytes)
            raw = f.read((hi - lo) * row_bytes)
            if len(raw) < (hi - lo) * row_bytes:
                raise ValueError(
                    f"{split.path}: truncated tensor data at row {lo}"
                )
            arr = np.frombuffer(raw, dtype=np_s).reshape(hi - lo, split.d)
            if split.dtype == "F16":
                arr = arr.astype("<f4")
            elif split.dtype == "BF16":
                arr = bf16_to_f32(arr)
            elif split.dtype == "U8":
                arr = arr.astype("<i2")
            pa_type = pa.from_numpy_dtype(arr.dtype)
            if split.dtype == "BOOL":
                arr = arr.astype(bool)
                pa_type = pa.bool_()
            flat = pa.array(arr.reshape(-1), type=pa_type)
            vecs = pa.FixedSizeListArray.from_arrays(flat, split.d)
            yield pa.record_batch(
                {
                    "file": pa.array([split.path] * (hi - lo)),
                    "row_idx": pa.array(range(lo, hi), type=pa.int64()),
                    "vec": vecs.cast(pa.list_(pa_type)),
                }
            )


def safetensors_index_audit(
    spark: SparkSession,
    path: str,
    index_file: str = "model.safetensors.index.json",
) -> DataFrame:
    """Audit a multi-file checkpoint against its HF-style index
    (``{"metadata": {"total_size": N}, "weight_map": {tensor:
    shard_file}}``): one row per tensor with ``status`` ∈ ``ok`` /
    ``wrong_shard`` (mapped to a different file than it lives in) /
    ``missing_from_shard`` (mapped but absent) / ``not_in_index``
    (present but unmapped), plus the declared ``total_size`` and each
    tensor's actual ``nbytes`` so the caller can check the size claim.
    The index is footer-sized (driver read); shard headers walk
    distributed."""
    import os as _os

    idx_path = _os.path.join(strip_scheme(path), index_file)
    if not _os.path.exists(idx_path):
        raise ValueError(f"no {index_file} under {path}")
    with open(idx_path) as f:
        idx = json.load(f)
    weight_map = idx.get("weight_map")
    if not isinstance(weight_map, dict) or not weight_map:
        raise ValueError(f"{idx_path}: missing/empty weight_map")
    total_size = int(idx.get("metadata", {}).get("total_size", -1))

    from pyspark.sql import functions as F

    mapped = spark.createDataFrame(
        [(t, f) for t, f in sorted(weight_map.items())],
        "tensor string, mapped_file string",
    )
    actual = safetensors_meta(spark, path).select(
        "tensor",
        F.expr("reverse(split(file, '/'))[0]").alias("actual_file"),
        "nbytes",
    )
    joined = mapped.join(actual, "tensor", "full_outer")
    return joined.select(
        "tensor", "mapped_file", "actual_file", "nbytes",
        F.when(F.col("mapped_file").isNull(), "not_in_index")
        .when(F.col("actual_file").isNull(), "missing_from_shard")
        .when(F.col("mapped_file") != F.col("actual_file"),
              "wrong_shard")
        .otherwise("ok").alias("status"),
        F.lit(total_size).cast("bigint").alias("declared_total_size"),
    )


def read_safetensors(
    spark: SparkSession,
    path: str,
    tensor: str,
    rows_per_split: int = 65536,
    missing_tensor: str = "error",
) -> DataFrame:
    """Rows of one 2-D tensor across every ``.safetensors`` file under
    ``path`` as ``(file, row_idx, vec)``; ``vec``'s element type follows
    the dtype of the first file holding the tensor.

    ``missing_tensor='skip'`` tolerates shards that don't hold the
    tensor (the HF sharded-checkpoint layout: each tensor lives in
    exactly one shard); it is still LOUD if no file holds it."""
    files = list_part_files(path, pattern="*.safetensors")
    if not files:
        raise FileNotFoundError(f"no .safetensors files under {path}")
    if not tensor:
        raise ValueError("a tensor name is required")
    splits, dtype = [], None
    for f in sorted(files):
        header, data_start = read_header(f)
        if tensor not in header:
            if missing_tensor == "skip":
                continue
            raise ValueError(
                f"{f}: no tensor named {tensor!r} (has "
                f"{sorted(k for k in header if k != '__metadata__')})"
                " — pass missing_tensor='skip' for per-shard tensors"
            )
        info = header[tensor]
        dtype = dtype or info["dtype"]
        shape = info["shape"]
        if len(shape) != 2:
            raise ValueError(
                f"{f}: tensor {tensor!r} has shape {shape} — the "
                "row reader needs a 2-D [n, d] tensor"
            )
        n, d = shape
        for lo in range(0, max(n, 1), rows_per_split):
            splits.append(SafetensorsSplit(
                f, data_start + info["data_offsets"][0],
                info["dtype"], d, lo, min(lo + rows_per_split, n),
            ))
    if dtype is None:
        raise ValueError(f"no file under {path} holds tensor {tensor!r}")
    ddl = f"file string, row_idx bigint, vec array<{_DTYPES[dtype][2]}>"
    return scan_splits(spark, splits, _read_split, ddl)
