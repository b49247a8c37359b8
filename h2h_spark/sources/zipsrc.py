"""ZIP archive member scan — the third dataset-container family next to
TAR (no index → checksum resync) and Arrow IPC (footer index): ZIP's
END-OF-CENTRAL-DIRECTORY record + central directory give EXACT member
offsets, so the planner reads the directory once (KBs, driver-side, the
same role as a parquet footer) and assigns member RUNS to tasks — no
resync scanning at all.  A split names only its run's byte range of the
directory and its entry count; the task re-parses just those entries and
random-accesses only their members.

Reader tasks parse the REAL local headers (PK\\x03\\x04), inflate
stored/deflated data, and hard-verify CRC-32 and sizes — a corrupt
member fails the task loudly rather than producing silent bytes
(APPNOTE.TXT §4.3; the format is public).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from h2h_spark.sources.util import (
    file_size,
    list_part_files,
    open_input,
    record_batches,
    scan_splits,
)

_EOCD_SIG = b"PK\x05\x06"
_EOCD64_SIG = b"PK\x06\x06"
_EOCD64_LOC_SIG = b"PK\x06\x07"
_CDH_SIG = b"PK\x01\x02"
_LFH_SIG = b"PK\x03\x04"


def _zip64_extra(extra: bytes, need: list[str]) -> dict[str, int]:
    """Parse the ZIP64 extended-information extra field (header id
    0x0001, APPNOTE §4.5.3): 8-byte values appear in fixed order —
    usize, csize, lfh_off, disk — but ONLY for the fields whose 32-bit
    slot holds the 0xFFFFFFFF sentinel (``need`` lists those)."""
    off = 0
    while off + 4 <= len(extra):
        hid, hlen = struct.unpack_from("<HH", extra, off)
        if hid == 0x0001:
            body = extra[off + 4:off + 4 + hlen]
            vals: dict[str, int] = {}
            p = 0
            for field in need:
                width = 4 if field == "disk" else 8
                if p + width > len(body):
                    raise ValueError(
                        "zip64 extra field too short for sentinel fields "
                        f"{need}"
                    )
                vals[field] = int.from_bytes(body[p:p + width], "little")
                p += width
            return vals
        off += 4 + hlen
    raise ValueError(
        f"central-directory entry has 0xFFFFFFFF sentinels {need} but no "
        "zip64 extra field"
    )


def _locate_directory(path: str, f, size: int) -> tuple[int, int, int]:
    """Find the EOCD (floats behind a ≤64 KiB comment), follow the ZIP64
    locator when the 32-bit record carries sentinels, and validate that
    the directory it points at actually ends where the record begins —
    a fabricated EOCD embedded in an archive comment fails this check
    instead of redirecting the scan (APPNOTE §4.3.16/§4.3.14)."""
    tail_len = min(size, 22 + 65535)
    f.seek(size - tail_len)
    tail = f.read(tail_len)
    idx = tail.rfind(_EOCD_SIG)
    if idx < 0:
        raise ValueError(f"{path}: no end-of-central-directory record")
    eocd_abs = size - tail_len + idx
    n_entries, cd_size, cd_off = struct.unpack_from("<HII", tail, idx + 10)
    dir_end = eocd_abs
    if n_entries == 0xFFFF or cd_size == 0xFFFFFFFF or cd_off == 0xFFFFFFFF:
        loc_abs = eocd_abs - 20
        f.seek(max(loc_abs, 0))
        loc = f.read(20)
        if loc_abs < 0 or loc[:4] != _EOCD64_LOC_SIG:
            raise ValueError(
                f"{path}: EOCD carries zip64 sentinels but no zip64 "
                "EOCD locator precedes it"
            )
        eocd64_off = struct.unpack_from("<Q", loc, 8)[0]
        if eocd64_off + 56 > loc_abs:
            raise ValueError(f"{path}: zip64 EOCD offset out of bounds")
        f.seek(eocd64_off)
        e64 = f.read(56)
        if e64[:4] != _EOCD64_SIG:
            raise ValueError(f"{path}: bad zip64 EOCD signature")
        n_entries, cd_size, cd_off = struct.unpack_from("<QQQ", e64, 32)
        dir_end = eocd64_off
    if cd_off + cd_size > dir_end:
        # ``>`` not ``!=``: in-place-edited archives may leave a gap
        # before the directory record, and some writers emit a zip64
        # EOCD even when the 32-bit record has no sentinels.
        raise ValueError(
            f"{path}: central directory [{cd_off}, {cd_off + cd_size}) "
            f"overlaps the directory record at {dir_end} — rejecting "
            "(comment-embedded or corrupt EOCD)"
        )
    return n_entries, cd_size, cd_off


def _directory_entries(
    path: str, cd: bytes, n_entries: int
) -> Iterator[tuple[int, dict]]:
    """Parse ``n_entries`` central-directory entries from ``cd``
    (including per-entry zip64 extra fields); yields each entry's end
    offset in ``cd`` with its member dict."""
    off = 0
    for _ in range(n_entries):
        if cd[off:off + 4] != _CDH_SIG:
            raise ValueError(f"{path}: bad central-directory signature")
        # fixed 46-byte header: method@10, crc@16, sizes@20/24, lens@28
        (method, crc, csize, usize, nlen, elen, clen) = struct.unpack_from(
            "<6xH4xIIIHHH", cd, off + 4
        )
        lfh_off = struct.unpack_from("<I", cd, off + 42)[0]
        name = cd[off + 46:off + 46 + nlen].decode("utf-8", "replace")
        need = [
            field
            for field, v in (
                ("usize", usize), ("csize", csize), ("lfh_off", lfh_off),
            )
            if v == 0xFFFFFFFF
        ]
        if need:
            extra = cd[off + 46 + nlen:off + 46 + nlen + elen]
            vals = _zip64_extra(extra, need)
            usize = vals.get("usize", usize)
            csize = vals.get("csize", csize)
            lfh_off = vals.get("lfh_off", lfh_off)
        off += 46 + nlen + elen + clen
        yield off, {
            "name": name, "method": method, "crc": crc,
            "csize": csize, "usize": usize, "lfh_off": lfh_off,
        }


def _read_directory(path: str) -> tuple[int, bytes, int]:
    """``(cd_off, cd_bytes, n_entries)``: locate the EOCD in the file tail
    (it floats behind an optional comment, max 64 KiB), follow the ZIP64
    records when present, and read the directory."""
    size = file_size(path)
    with open_input(path) as f:
        n_entries, cd_size, cd_off = _locate_directory(path, f, size)
        f.seek(cd_off)
        return cd_off, f.read(cd_size), n_entries


def read_central_directory(path: str) -> list[dict]:
    """Driver-side directory read: every member's entry."""
    _, cd, n_entries = _read_directory(path)
    return [m for _, m in _directory_entries(path, cd, n_entries)]


class ZipSplit(NamedTuple):
    path: str
    cd_off: int  # file offset of the run's first directory entry
    cd_len: int  # bytes of the run's directory entries
    n_entries: int


def plan_zip_splits(path: str, members_per_split: int) -> list[ZipSplit]:
    """Runs of ``members_per_split`` members, each named by its slice of
    the central directory (parsed whole here, so a malformed entry fails
    the planner)."""
    cd_off, cd, n = _read_directory(path)
    bounds = [0] + [end for end, _ in _directory_entries(path, cd, n)]
    return [
        ZipSplit(
            path,
            cd_off + bounds[lo],
            bounds[min(lo + members_per_split, n)] - bounds[lo],
            min(lo + members_per_split, n) - lo,
        )
        for lo in range(0, n, members_per_split)
    ]


def read_member(f, m: dict) -> bytes:
    """Parse the member's REAL local header, inflate, verify CRC+size."""
    f.seek(m["lfh_off"])
    hdr = f.read(30)
    if hdr[:4] != _LFH_SIG:
        raise ValueError(f"bad local header at {m['lfh_off']}")
    nlen, elen = struct.unpack_from("<HH", hdr, 26)
    f.seek(m["lfh_off"] + 30 + nlen + elen)
    comp = f.read(m["csize"])
    if m["method"] == 0:
        data = comp
    elif m["method"] == 8:
        data = zlib.decompress(comp, -15)
    else:
        raise ValueError(f"unsupported zip method {m['method']}")
    if len(data) != m["usize"] or (zlib.crc32(data) & 0xFFFFFFFF) != m["crc"]:
        raise ValueError(f"zip member {m['name']!r} failed CRC/size check")
    return data


_SCHEMA = pa.schema([
    ("name", pa.string()), ("method", pa.int32()), ("size", pa.int64()),
    ("content_md5", pa.string()),
])


def _read_split(split: ZipSplit) -> Iterator[pa.RecordBatch]:
    with open_input(split.path) as f:
        f.seek(split.cd_off)
        cd = f.read(split.cd_len)
        rows = []
        for _, m in _directory_entries(split.path, cd, split.n_entries):
            data = read_member(f, m)
            rows.append((m["name"], m["method"], len(data),
                         hashlib.md5(data).hexdigest()))
    yield from record_batches(rows, _SCHEMA)


def read_zip(
    spark: SparkSession, path: str, members_per_split: int = 1024
) -> DataFrame:
    splits = [
        s
        for f in list_part_files(path, pattern="*.zip")
        for s in plan_zip_splits(f, members_per_split)
    ]
    return scan_splits(spark, splits, _read_split, from_arrow_schema(_SCHEMA))
