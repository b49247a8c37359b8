"""TFRecord scan — the TensorFlow training-data container (public
format, tensorflow/core/lib/io/record_writer.h): each record is framed

    uint64 length (little-endian)
    uint32 masked_crc32c(length bytes)
    byte   data[length]
    uint32 masked_crc32c(data)

with CRC-32C (Castagnoli) and TensorFlow's mask
``((crc >> 15) | (crc << 17)) + 0xa282ead8``.

TFRecord has NO sync marker, so stock readers treat a file as
unsplittable and parallelize over shard files only.  This source makes
single files splittable with the engine's candidate-scan-then-validate
discipline (the same realignment contract as the FLAT/WARC/tar
scanners, ``libhdfsconnector.cpp:76-96``): the 12-byte header is
self-validating — the masked CRC of the 8 length bytes matches at a
random offset with probability 2^-32 — so a task realigns by sliding a
12-byte window until a header validates AND the frame it describes
chains into a second validating header (or end-of-range/file).  The
chain check drives the false-positive rate to ~2^-64 per candidate.

Ownership is by header start offset; the record body may extend past
the range end (read-past-range, never double-emitted).  Memory per task
is O(chunk + one record).

CRC cost note: this container has no crc32c accelerator (the hardware
SSE4.2 path lives in C extensions not installed here).  Header CRCs (8
bytes each) are always verified — that is what makes resync safe.  Full
data-CRC verification defaults ON for integrity parity with the ZIP
source's hard CRC check, through a numpy-vectorized CRC (GF(2)-linear
block folding, see ``_crc_update_vec`` — ~14× the scalar slicing-by-8
kernel per core); set ``verify_data_crc=False`` to scan checksum-blind
at wire speed when an upstream system already guarantees integrity.

Whole-file-gzipped shards (``TFRecordOptions(compression_type="GZIP")``,
``*.tfrecord.gz``) are supported as the documented unsplittable cliff:
one deflate stream has no offset to resync to, so each file is one
task streaming at O(chunk + one record); parallelism across shard
files still applies (``scan_tfrecord_gz``).
"""

from __future__ import annotations

import functools
import hashlib
import struct
from typing import Iterator, NamedTuple, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from h2h_spark.sources.util import (
    byte_ranges,
    file_size,
    list_part_files,
    open_input,
    record_batches,
    scan_splits,
)

_CHUNK = 1 << 20
_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_MASK_DELTA = 0xA282EAD8
_POLY = 0x82F63B78  # CRC-32C (Castagnoli), reflected


def _make_tables() -> list[list[int]]:
    """Slicing-by-8 tables for software CRC-32C."""
    t0 = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ (_POLY if c & 1 else 0)
        t0.append(c)
    tables = [t0]
    for k in range(1, 8):
        prev = tables[k - 1]
        tables.append([t0[prev[n] & 0xFF] ^ (prev[n] >> 8) for n in range(256)])
    return tables


_TABLES = _make_tables()
_T0, _T1, _T2, _T3, _T4, _T5, _T6, _T7 = _TABLES


def _crc_update(crc: int, data: bytes) -> int:
    """Advance an (already-inverted) CRC-32C state over ``data`` with
    the scalar slicing-by-8 kernel — no init/final inversion."""
    n = len(data)
    i = 0
    end8 = n - (n % 8)
    while i < end8:
        crc ^= (
            data[i]
            | (data[i + 1] << 8)
            | (data[i + 2] << 16)
            | (data[i + 3] << 24)
        )
        crc = (
            _T7[crc & 0xFF]
            ^ _T6[(crc >> 8) & 0xFF]
            ^ _T5[(crc >> 16) & 0xFF]
            ^ _T4[(crc >> 24) & 0xFF]
            ^ _T3[data[i + 4]]
            ^ _T2[data[i + 5]]
            ^ _T1[data[i + 6]]
            ^ _T0[data[i + 7]]
        )
        i += 8
    while i < n:
        crc = _T0[(crc ^ data[i]) & 0xFF] ^ (crc >> 8)
        i += 1
    return crc


# ---------------------------------------------------------------------------
# numpy-vectorized CRC-32C.
#
# The reflected per-byte update  state' = T0[(state ^ b) & 0xFF] ^
# (state >> 8)  is GF(2)-LINEAR in (state, byte), so the state after a
# K-byte block is  state_K = L^K(state)  ⊕  XOR_p C[p][b_p]  where
# C[p][v] is the CRC-evolution of byte v followed by (K-1-p) zero bytes
# and L^K is the K-byte zero-advance.  Both are precomputed tables; the
# XOR over positions is a numpy gather + xor-reduce per block, and only
# the cheap 4-lookup state fold stays in the Python loop — len/K
# iterations instead of len/8 (the 3.2× "integrity tax" the verified
# scan paid with the scalar kernel).
# ---------------------------------------------------------------------------

_VEC_BLOCK = 1024  # bytes per vectorized block (the 1 MiB contribution
# table stays cache-resident — measured 215 MB/s on big buffers and
# 118 MB/s on 7 KB records vs 156/18 at a 4 KiB block, scalar ~9)
_VEC_MIN = 1024  # below one block nothing vectorizes; scalar kernel


def _make_vec_tables():
    import numpy as np

    t0 = np.array(_T0, dtype=np.uint32)

    def L(s):  # one zero-byte advance, elementwise
        return t0[s & 0xFF] ^ (s >> np.uint32(8))

    # C[p][v]: contribution of byte v at block position p (row K-1 = M(v)
    # = T0[v]; each earlier row is one more zero-byte advance)
    contrib = np.empty((_VEC_BLOCK, 256), dtype=np.uint32)
    row = t0.copy()
    contrib[_VEC_BLOCK - 1] = row
    for p in range(_VEC_BLOCK - 2, -1, -1):
        row = L(row)
        contrib[p] = row
    # ZK[j][v]: L^K of state byte j holding value v
    state_bytes = np.concatenate(
        [np.arange(256, dtype=np.uint32) << np.uint32(8 * j) for j in range(4)]
    )
    for _ in range(_VEC_BLOCK):
        state_bytes = L(state_bytes)
    zk = state_bytes.reshape(4, 256)
    offsets = np.arange(_VEC_BLOCK, dtype=np.int32) * 256
    return contrib.ravel(), offsets, zk


_VEC_TABLES = None


def _crc_update_vec(crc: int, data: bytes) -> int:
    """Vectorized CRC state advance (numpy); bit-identical to
    ``_crc_update``.  The gather runs over a flattened (position, byte)
    table in bounded chunks so index temporaries stay cache-sized."""
    import numpy as np

    global _VEC_TABLES
    if _VEC_TABLES is None:
        _VEC_TABLES = _make_vec_tables()
    flat, offsets, zk = _VEC_TABLES
    n = len(data)
    nb = n // _VEC_BLOCK
    blocks = np.frombuffer(data, dtype=np.uint8, count=nb * _VEC_BLOCK)
    blocks = blocks.reshape(nb, _VEC_BLOCK)
    inj = np.empty(nb, dtype=np.uint32)
    chunk = 2048  # blocks per gather (2 MiB of input)
    idx = np.empty((chunk, _VEC_BLOCK), dtype=np.int32)
    for lo in range(0, nb, chunk):
        hi = min(lo + chunk, nb)
        m = hi - lo
        np.add(blocks[lo:hi], offsets[None, :], out=idx[:m], dtype=np.int32)
        inj[lo:hi] = np.bitwise_xor.reduce(flat[idx[:m]], axis=1)
    z0, z1, z2, z3 = zk
    for b in range(nb):
        crc = int(
            z0[crc & 0xFF]
            ^ z1[(crc >> 8) & 0xFF]
            ^ z2[(crc >> 16) & 0xFF]
            ^ z3[crc >> 24]
        ) ^ int(inj[b])
    return _crc_update(crc, data[nb * _VEC_BLOCK:])


def crc32c(data: bytes, crc: int = 0) -> int:
    """Software CRC-32C (Castagnoli): numpy-vectorized for big buffers,
    scalar slicing-by-8 below the crossover."""
    state = ~crc & 0xFFFFFFFF
    if len(data) >= _VEC_MIN:
        state = _crc_update_vec(state, data)
    else:
        state = _crc_update(state, data)
    return ~state & 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + _MASK_DELTA) & 0xFFFFFFFF


def write_tfrecords(path: str, payloads: Sequence[bytes]) -> None:
    """Fixture/test writer: standard TFRecord framing."""
    with open(path, "wb") as f:
        for data in payloads:
            ln = struct.pack("<Q", len(data))
            f.write(ln)
            f.write(struct.pack("<I", masked_crc32c(ln)))
            f.write(data)
            f.write(struct.pack("<I", masked_crc32c(data)))


def write_tfrecords_gz(path: str, payloads: Sequence[bytes]) -> None:
    """Fixture/test writer: the ``TFRecordOptions(compression_type=
    "GZIP")`` layout — the whole TFRecord byte stream inside ONE gzip
    stream (tensorflow's RecordWriter wraps the destination file)."""
    import gzip as _gzip
    import io

    buf = io.BytesIO()
    for data in payloads:
        ln = struct.pack("<Q", len(data))
        buf.write(ln)
        buf.write(struct.pack("<I", masked_crc32c(ln)))
        buf.write(data)
        buf.write(struct.pack("<I", masked_crc32c(data)))
    with open(path, "wb") as f:
        f.write(_gzip.compress(buf.getvalue(), mtime=0))


class TfRecordSplit(NamedTuple):
    path: str
    start: int
    end: int
    gz: int = 0  # 1: whole-file-gzipped shard, one task per file


def plan_tfrecord_splits(
    paths: Sequence[str],
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> list[TfRecordSplit]:
    return [
        TfRecordSplit(path, s, e)
        for path in paths
        for s, e in byte_ranges(file_size(path), max_partition_bytes)
    ]


class _TfScanner:
    """Stream records whose 12-byte header starts in [start, end)."""

    def __init__(self, path: str, start: int, end: int, verify_data: bool):
        self.path = path
        self.size = file_size(path)
        self.start = start
        self.end = end
        self.verify_data = verify_data

    def _header_at(self, buf: bytes, off: int) -> int | None:
        """Validate the 12-byte header at buf[off:]; returns the record
        length or None."""
        if off + 12 > len(buf):
            return None
        stored = struct.unpack_from("<I", buf, off + 8)[0]
        if masked_crc32c(buf[off:off + 8]) != stored:
            return None
        return struct.unpack_from("<Q", buf, off)[0]

    def _align(self, f) -> int | None:
        """Slide a window until a header validates AND its frame chains
        into a second validating header (or ends the range/file)."""
        if self.start == 0:
            return 0
        pos = self.start
        while pos < self.end:
            f.seek(pos)
            # enough for a header + a plausible chain probe
            win = f.read(min(_CHUNK, self.size - pos))
            if len(win) < 12:
                return None
            limit = min(len(win) - 12, self.end - pos - 1)
            for off in range(0, limit + 1):
                ln = self._header_at(win, off)
                if ln is None:
                    continue
                # chain check: the next frame's header must validate,
                # unless this record ends at/after end-of-file
                nxt = pos + off + 12 + ln + 4
                if nxt == self.size:
                    return pos + off
                if nxt > self.size:
                    continue  # frame overruns the file: false positive
                f.seek(nxt)
                hdr2 = f.read(12)
                if len(hdr2) == 12 and self._header_at(hdr2, 0) is not None:
                    return pos + off
            pos += max(1, limit + 1)
        return None

    def records(self) -> Iterator[tuple[int, bytes]]:
        with open_input(self.path) as f:
            pos = self._align(f)
            if pos is None:
                return
            while pos < self.end and pos + 12 <= self.size:
                f.seek(pos)
                hdr = f.read(12)
                ln = self._header_at(hdr, 0)
                if ln is None:
                    raise ValueError(
                        f"invalid TFRecord header at offset {pos} in "
                        f"{self.path}"
                    )
                data = f.read(ln)
                tail = f.read(4)
                if len(data) < ln or len(tail) < 4:
                    raise ValueError(
                        f"truncated TFRecord at offset {pos} in {self.path}"
                    )
                if self.verify_data:
                    if masked_crc32c(data) != struct.unpack("<I", tail)[0]:
                        raise ValueError(
                            f"TFRecord data CRC mismatch at offset {pos} "
                            f"in {self.path}"
                        )
                yield pos, data
                pos += 12 + ln + 4


def scan_tfrecord_range(
    path: str, start: int, end: int, verify_data: bool = True
) -> Iterator[tuple[int, bytes]]:
    yield from _TfScanner(path, start, end, verify_data).records()


def scan_tfrecord_gz(
    path: str, verify_data: bool = True
) -> Iterator[tuple[int, bytes]]:
    """Sequential scan of a whole-file-gzipped TFRecord shard (the
    ``TFRecordOptions(compression_type="GZIP")`` layout).  One deflate
    stream over the whole record stream means there is no offset a task
    could resync to — the documented unsplittable cliff (same contract
    as single-stream .tar.gz): one task per file, parallelism across
    shard files.  Offsets are positions in the DECOMPRESSED stream.
    Memory O(chunk + one record)."""
    from h2h_spark.sources.gzscan import GzStreamReader

    buf = bytearray()
    pos = 0  # decompressed-stream offset of buf[0]
    chunks = GzStreamReader(path).chunks()
    done = False

    def fill(need: int) -> bool:
        nonlocal done
        while len(buf) < need and not done:
            try:
                buf.extend(next(chunks))
            except StopIteration:
                done = True
        return len(buf) >= need

    while True:
        if not fill(12):
            if buf:
                raise ValueError(
                    f"truncated TFRecord header at decompressed offset "
                    f"{pos} in {path}"
                )
            return
        stored = struct.unpack_from("<I", buf, 8)[0]
        if masked_crc32c(bytes(buf[:8])) != stored:
            raise ValueError(
                f"invalid TFRecord header at decompressed offset {pos} "
                f"in {path}"
            )
        ln = struct.unpack_from("<Q", buf, 0)[0]
        if not fill(12 + ln + 4):
            raise ValueError(
                f"truncated TFRecord at decompressed offset {pos} in {path}"
            )
        data = bytes(buf[12:12 + ln])
        if verify_data:
            tail = struct.unpack_from("<I", buf, 12 + ln)[0]
            if masked_crc32c(data) != tail:
                raise ValueError(
                    f"TFRecord data CRC mismatch at decompressed offset "
                    f"{pos} in {path}"
                )
        yield pos, data
        del buf[:12 + ln + 4]
        pos += 12 + ln + 4


_SCHEMA = pa.schema([
    ("offset", pa.int64()), ("length", pa.int64()), ("data_md5", pa.string()),
])
_DATA_FIELD = pa.field("data", pa.binary())


def _read_split(
    verify_data: bool, schema: pa.Schema, split: TfRecordSplit
) -> Iterator[pa.RecordBatch]:
    with_data = "data" in schema.names
    records = (
        scan_tfrecord_gz(split.path, verify_data)
        if split.gz
        else scan_tfrecord_range(split.path, split.start, split.end, verify_data)
    )
    # 8192-record batches keep a multi-GB gz shard (one whole-file task)
    # from materializing its partition in Python
    yield from record_batches(
        (
            (pos, len(data), hashlib.md5(data).hexdigest())
            + ((data,) if with_data else ())
            for pos, data in records
        ),
        schema,
        max_rows=8192,
    )


def write_tf_examples(
    df: DataFrame, path: str, feature_cols: Sequence[str] | None = None
) -> None:
    """Export a DataFrame as tf.Example TFRecord shards — the training-
    shard write path: one ``part_<i>.tfrecord`` per input partition
    (the engine's ``part_<i>`` naming contract), each row serialized as
    a tf.Example whose features are the selected columns (int/bigint →
    Int64List, float/double → FloatList, string/binary → BytesList,
    arrays thereof element-wise).  Executor-parallel via
    ``foreachPartition`` — no driver data path; empty partitions write
    no file."""
    from h2h_spark.sources.util import ensure_dir, strip_scheme

    import os as _os

    ensure_dir(path)
    base = strip_scheme(path)
    cols = list(feature_cols) if feature_cols is not None else df.columns
    sel = df.select(*cols)

    def _write(rows):
        from pyspark import TaskContext

        from h2h_spark.operators.tfexample import encode_tf_example

        pid = TaskContext.get().partitionId()
        payloads = []
        for r in rows:
            feats = {}
            for c in cols:
                v = r[c]
                if v is None:
                    continue
                feats[c] = v if isinstance(v, (list, tuple)) else [v]
            payloads.append(encode_tf_example(feats))
        if payloads:
            write_tfrecords(
                _os.path.join(base, f"part_{pid}.tfrecord"), payloads
            )

    sel.foreachPartition(_write)


def read_tfrecord(
    spark: SparkSession,
    path: str,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
    verify_data_crc: bool = True,
    include_data: bool = False,
) -> DataFrame:
    # plain shards split into byte ranges; whole-file-gzipped shards
    # (TFRecordOptions GZIP) are the documented one-task-per-file cliff —
    # a gzip stream has no offset to resync to.  Both listings are
    # suffix-filtered: list_part_files returns a single-file path as-is
    # regardless of pattern, and a file must never be planned under both
    # disciplines.
    splits = plan_tfrecord_splits(
        [p for p in list_part_files(path, pattern="*.tfrecord")
         if p.endswith(".tfrecord")],
        max_partition_bytes,
    )
    for p in list_part_files(path, pattern="*.tfrecord.gz"):
        size = file_size(p) if p.endswith(".tfrecord.gz") else 0
        if size:
            splits.append(TfRecordSplit(p, 0, size, gz=1))
    schema = _SCHEMA.append(_DATA_FIELD) if include_data else _SCHEMA
    return scan_splits(
        spark,
        splits,
        functools.partial(_read_split, verify_data_crc, schema),
        from_arrow_schema(schema),
    )
