"""TAR (ustar, POSIX.1-1988) member scan — dataset tarballs as a
first-class scan source.

tar is not a splittable format in general (members chain by size, no
record delimiter), which is why large-scale pipelines either repack or
index it.  This source makes UNCOMPRESSED ustar archives splittable the
same way the engine's WARC/Avro/CSV scanners do it: plan plain
block-aligned byte ranges, then have each task resync by scanning
512-byte block boundaries for a *validated* header block — the ustar
magic at offset 257 plus the header checksum (sum of the header bytes
with the checksum field blanked, stored in octal).  A data block that
happens to contain the magic fails the checksum with probability
~2^-(checksum entropy); the guard is the same
candidate-scan-then-validate discipline as the WARC splitter, and a
validated false positive is documented as the format's intrinsic limit
(real deployments index tarballs once and trust offsets thereafter).

Ownership: a member belongs to the task whose range contains its
header block; its data blocks may extend past the range end
(read-past-range, like FLAT/WARC).  Memory per task is O(one member's
streamed chunks), never O(range).
"""

from __future__ import annotations

import functools
import hashlib
import math
from typing import Iterator, NamedTuple, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from h2h_spark.sources.util import (
    ByteRange,
    byte_ranges,
    file_size,
    list_part_files,
    open_input,
    record_batches,
    scan_splits,
)

_BLOCK = 512
_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def plan_tar_splits(
    paths: Sequence[str],
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> list[ByteRange]:
    """Block-aligned byte ranges (ustar structure is 512-byte blocks, so
    ranges snap to block boundaries — a header never straddles a cut)."""
    parts: list[ByteRange] = []
    for path in paths:
        size = file_size(path)
        if size == 0:
            continue
        n_blocks = size // _BLOCK
        n = max(1, math.ceil(size / max_partition_bytes))
        n = min(n, max(1, n_blocks))
        base, rem = divmod(n_blocks, n)
        off = 0
        for i in range(n):
            blocks = base + (1 if i < rem else 0)
            parts.append(ByteRange(path, off, off + blocks * _BLOCK))
            off += blocks * _BLOCK
        if off < size:  # trailing partial block: malformed, the last task raises
            parts[-1] = parts[-1]._replace(end=size)
    return parts


def _parse_ustar_header(block: bytes) -> dict | None:
    """Validate + parse one 512-byte ustar header block.  Returns None
    for anything that does not checksum as a header (including the
    end-of-archive zero blocks)."""
    if len(block) < _BLOCK or block[257:262] != b"ustar":
        return None
    try:
        stored = int(block[148:156].replace(b"\x00", b" ").strip() or b"0", 8)
    except ValueError:
        return None
    summed = sum(block[:148]) + 8 * 32 + sum(block[156:_BLOCK])
    if summed != stored:
        return None

    def _oct(field: bytes) -> int:
        s = field.replace(b"\x00", b" ").strip()
        return int(s, 8) if s else 0

    name = block[0:100].rstrip(b"\x00").decode("utf-8", "replace")
    prefix = block[345:500].rstrip(b"\x00").decode("utf-8", "replace")
    if prefix:
        name = prefix + "/" + name
    return {
        "name": name,
        "size": _oct(block[124:136]),
        "mtime": _oct(block[136:148]),
        "typeflag": block[156:157].decode("ascii", "replace") or "0",
    }


def scan_tar_range(
    path: str, start: int, end: int
) -> Iterator[tuple[dict, bytes]]:
    """Yield (header, content) for members whose header block starts in
    [start, end).  ``start`` must be block-aligned (the planner's
    contract); resync = advance block-by-block until a header
    validates."""
    size = file_size(path)
    with open_input(path) as f:
        pos = start
        aligned = start == 0
        while pos < end and pos + _BLOCK <= size:
            f.seek(pos)
            block = f.read(_BLOCK)
            hdr = _parse_ustar_header(block)
            if hdr is None:
                if aligned and block.count(0) == _BLOCK:
                    return  # end-of-archive zero block
                if aligned:
                    raise ValueError(
                        f"malformed ustar header at offset {pos}"
                    )
                pos += _BLOCK  # resync scan
                continue
            aligned = True
            data_blocks = math.ceil(hdr["size"] / _BLOCK)
            content = f.read(hdr["size"]) if hdr["size"] else b""
            if len(content) < hdr["size"]:
                raise ValueError(f"truncated tar member at offset {pos}")
            yield hdr, content
            pos += _BLOCK * (1 + data_blocks)


_SCHEMA = pa.schema([
    ("name", pa.string()), ("size", pa.int64()), ("mtime", pa.int64()),
    ("typeflag", pa.string()), ("content_md5", pa.string()),
])


def _member_batches(members) -> Iterator[pa.RecordBatch]:
    yield from record_batches(
        (
            (hdr["name"], hdr["size"], hdr["mtime"], hdr["typeflag"],
             hashlib.md5(content).hexdigest())
            for hdr, content in members
        ),
        _SCHEMA,
    )


def _read_split(split: ByteRange) -> Iterator[pa.RecordBatch]:
    yield from _member_batches(scan_tar_range(*split))


# ---------------------------------------------------------------------------
# Compressed tar (.tar.gz) — two layouts, two disciplines:
#
# - MEMBER-GZIPPED (one gzip member per tar member, the analogue of Common
#   Crawl's .warc.gz framing; produced by :func:`write_tar_gz_members` or any
#   per-record gzip framer): splittable.  The planner cuts plain byte ranges
#   and each task resyncs with the shared validated gzip-member scanner
#   (`gzscan.GzMemberScanner`) — candidate = gzip magic, validation = the
#   first 512 inflated bytes checksum as a ustar header.  Ownership by
#   member start offset, read-past-range for the body.
#
# - SINGLE-STREAM (conventional ``tar czf``: one deflate stream over the
#   whole archive): NOT splittable — there is no boundary a task could
#   resync to without inflating everything before it.  The planner assigns
#   the whole file to one task that streams through it with O(chunk + one
#   member) memory.  This cliff is intrinsic to the format (the reference
#   documents its own transport cliffs the same way,
#   ``docs/HDFS_Intro.xml:96-150``); real deployments repack to a
#   splittable framing (member-gzip, uncompressed tar, parquet) once and
#   scan that thereafter.  Parallelism across *files* still applies — a
#   directory of 1000 tarballs fans out to 1000 tasks.
#
# ``layout="auto"`` (default) probes the first gzip member: if it ends
# before the file does, the archive is member-framed and splittable;
# otherwise it is planned as a single stream.  Detection errs toward
# "stream", which is correct (just serial) for BOTH layouts.
# ---------------------------------------------------------------------------


def _validate_tar_plain(plain: bytes) -> bool:
    """Gzip-member candidate predicate: the inflated prefix must open with
    a checksum-valid ustar header (end-of-archive zero blocks fail this,
    so the trailer member never aligns a split — it is only consumed
    sequentially after a validated start)."""
    return len(plain) >= _BLOCK and _parse_ustar_header(plain[:_BLOCK]) is not None


def _members_from_plain(
    plain: bytes, gz_offset: int
) -> Iterator[tuple[dict, bytes]]:
    """Parse one gzip member's plaintext as whole tar members.  The
    member-gzipped contract is that every gzip member holds a whole
    number of tar members; a tar member that spans gzip members is a
    different layout and raises loudly (use ``layout="stream"``)."""
    off = 0
    while off + _BLOCK <= len(plain):
        block = plain[off:off + _BLOCK]
        if block.count(0) == _BLOCK:
            return  # end-of-archive trailer
        hdr = _parse_ustar_header(block)
        if hdr is None:
            raise ValueError(
                f"malformed ustar header inside gzip member at "
                f"compressed offset {gz_offset}"
            )
        data_end = off + _BLOCK + hdr["size"]
        if data_end > len(plain):
            raise ValueError(
                f"tar member spans gzip members at compressed offset "
                f"{gz_offset} — not the member-gzipped layout; read with "
                f'layout="stream"'
            )
        yield hdr, plain[off + _BLOCK:data_end]
        off += _BLOCK * (1 + math.ceil(hdr["size"] / _BLOCK))
    if off < len(plain):
        raise ValueError(
            f"gzip member at compressed offset {gz_offset} is not "
            f"block-aligned tar data"
        )


def scan_tar_gz_members(
    path: str, start: int, end: int, codec: str = "gz"
) -> Iterator[tuple[dict, bytes]]:
    """Member-compressed layout: (header, content) for tar members in
    gzip members (or zstd frames, ``codec="zst"``) whose compressed
    start lies in [start, end)."""
    from h2h_spark.sources.gzscan import GzMemberScanner, ZstMemberScanner

    scanner_cls = GzMemberScanner if codec == "gz" else ZstMemberScanner
    scanner = scanner_cls(
        path, start, end, _validate_tar_plain, probe_plain=_BLOCK
    )
    for pos, plain in scanner.members():
        yield from _members_from_plain(plain, pos)


def scan_tar_gz_stream(
    path: str, codec: str = "gz"
) -> Iterator[tuple[dict, bytes]]:
    """Single-stream layout: sequential decompress + tar walk.  Memory
    is O(chunk + one member).  ``codec``: ``gz`` (also correct, serially,
    for member-gzipped archives — ``GzStreamReader`` restarts on
    concatenated members), ``bz2``/``xz`` (stdlib), ``zst``
    (import-gated)."""
    from h2h_spark.sources.gzscan import CodecStreamReader, GzStreamReader

    reader = (
        GzStreamReader(path) if codec == "gz" else CodecStreamReader(path, codec)
    )
    it = reader.chunks()
    buf = bytearray()

    def _fill(n: int) -> bool:
        while len(buf) < n:
            try:
                buf.extend(next(it))
            except StopIteration:
                return False
        return True

    while True:
        if not _fill(_BLOCK):
            if buf and buf.count(0) != len(buf):
                raise ValueError(f"truncated tar stream in {path}")
            return
        block = bytes(buf[:_BLOCK])
        if block.count(0) == _BLOCK:
            return  # end-of-archive
        hdr = _parse_ustar_header(block)
        if hdr is None:
            raise ValueError(f"malformed ustar header in stream {path}")
        padded = _BLOCK * math.ceil(hdr["size"] / _BLOCK)
        if not _fill(_BLOCK + padded):
            raise ValueError(f"truncated tar member in stream {path}")
        yield hdr, bytes(buf[_BLOCK:_BLOCK + hdr["size"]])
        del buf[:_BLOCK + padded]


def detect_tar_gz_layout(path: str, probe_cap: int = 1 << 20) -> str:
    """``"member"`` iff the first gzip member ends before the file does
    (shared probe — ``gzscan.detect_member_layout``)."""
    from h2h_spark.sources.gzscan import detect_member_layout

    return detect_member_layout(path, probe_cap)


def _detect_tar_zst_layout(path: str) -> str:
    """``"member"`` iff the first zstd frame ends before the file does."""
    from h2h_spark.sources.gzscan import detect_zst_member_layout

    return detect_zst_member_layout(path)


class TarGzSplit(NamedTuple):
    path: str
    start: int
    end: int
    mode: str  # member | stream


def _read_gz_split(codec: str, split: TarGzSplit) -> Iterator[pa.RecordBatch]:
    yield from _member_batches(
        scan_tar_gz_stream(split.path, codec)
        if split.mode == "stream"
        else scan_tar_gz_members(split.path, split.start, split.end, codec)
    )


def ustar_member_bytes(name: str, content: bytes, mtime: int = 0) -> bytes:
    """One tar member (header + data + zero padding), ustar format."""
    import io as _io
    import tarfile as _tarfile

    ti = _tarfile.TarInfo(name=name)
    ti.size = len(content)
    ti.mtime = mtime
    hdr = ti.tobuf(_tarfile.USTAR_FORMAT)
    return hdr + content + b"\x00" * ((-len(content)) % _BLOCK)


def write_tar_gz_members(
    path: str, members: Sequence[tuple[str, int, bytes]]
) -> None:
    """Fixture/test writer for the splittable member-gzipped layout: one
    gzip member per tar member plus a trailer member holding the
    end-of-archive zero blocks.  mtime pinned for determinism."""
    import gzip as _gzip

    with open(path, "wb") as f:
        for name, mtime, content in members:
            f.write(
                _gzip.compress(ustar_member_bytes(name, content, mtime), mtime=0)
            )
        f.write(_gzip.compress(b"\x00" * (2 * _BLOCK), mtime=0))


def write_tar_gz_stream(
    path: str, members: Sequence[tuple[str, int, bytes]]
) -> None:
    """Fixture/test writer for the conventional single-stream layout."""
    import gzip as _gzip

    raw = b"".join(
        ustar_member_bytes(name, content, mtime)
        for name, mtime, content in members
    ) + b"\x00" * (2 * _BLOCK)
    with open(path, "wb") as f:
        f.write(_gzip.compress(raw, mtime=0))


def write_tar_zst_members(
    path: str, members: Sequence[tuple[str, int, bytes]]
) -> None:
    """Fixture/test writer for the splittable member-zstd layout: one
    zstd frame per tar member plus a trailer frame holding the
    end-of-archive zero blocks."""
    from h2h_spark.sources.jsonl import _zst_compress

    with open(path, "wb") as f:
        for name, mtime, content in members:
            f.write(_zst_compress(ustar_member_bytes(name, content, mtime)))
        f.write(_zst_compress(b"\x00" * (2 * _BLOCK)))


def write_tar_zst_stream(
    path: str, members: Sequence[tuple[str, int, bytes]]
) -> None:
    """Fixture/test writer for the single-frame (unsplittable) layout."""
    from h2h_spark.sources.jsonl import _zst_compress

    raw = b"".join(
        ustar_member_bytes(name, content, mtime)
        for name, mtime, content in members
    ) + b"\x00" * (2 * _BLOCK)
    with open(path, "wb") as f:
        f.write(_zst_compress(raw))


def read_tar_gz(
    spark: SparkSession,
    path: str,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
    layout: str = "auto",
    codec: str = "gz",
) -> DataFrame:
    """Read compressed tar: ``codec="gz"`` (splittable when
    member-gzipped, see module docs), or ``bz2``/``xz``/``zst`` —
    stream-only codecs, one task per file."""
    if layout not in ("auto", "member", "stream"):
        raise ValueError(f"layout must be auto|member|stream, got {layout!r}")
    if codec not in ("gz", "bz2", "xz", "zst"):
        raise ValueError(f"codec must be gz|bz2|xz|zst, got {codec!r}")
    if codec in ("bz2", "xz") and layout == "member":
        raise ValueError(
            f"layout=member requires codec=gz|zst (no member-resync "
            f"path for {codec})"
        )
    detect = {"gz": detect_tar_gz_layout, "zst": _detect_tar_zst_layout}.get(codec)
    splits = []
    for p in list_part_files(path, pattern=f"*.tar.{codec}"):
        mode = layout
        if detect is None:
            mode = "stream"
        elif layout == "auto":
            mode = detect(p)
        size = file_size(p)
        if mode == "stream":
            splits += [TarGzSplit(p, 0, size, "stream")] if size else []
        else:
            splits += [
                TarGzSplit(p, s, e, "member")
                for s, e in byte_ranges(size, max_partition_bytes)
            ]
    return scan_splits(
        spark,
        splits,
        functools.partial(_read_gz_split, codec),
        from_arrow_schema(_SCHEMA),
    )


def read_tar(
    spark: SparkSession,
    path: str,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> DataFrame:
    splits = plan_tar_splits(
        list_part_files(path, pattern="*.tar"), max_partition_bytes
    )
    return scan_splits(spark, splits, _read_split, from_arrow_schema(_SCHEMA))
