"""Compressed JSONL scan — the corpus wire format (Dolma, RedPajama,
The Pile all ship ``.jsonl.gz``/``.jsonl.zst`` shards; one JSON object
per line).

Plain ``.jsonl`` and single-stream ``.jsonl.gz`` Spark reads natively —
but single-stream gzip is UNSPLITTABLE, so a 10 GB shard becomes one
task.  The fix real pipelines use is member-gzip framing (each gzip
member holds a whole number of lines — the same trick as Common Crawl's
.warc.gz), which this source makes splittable with the engine's shared
validated gzip-member resync (`gzscan.GzMemberScanner`):

- candidate = gzip magic in the raw byte range;
- validation = the member inflates cleanly AND its plaintext starts
  with ``{`` AND its first complete line (when the probe window holds
  one) parses as JSON — a magic hit inside compressed data dies at the
  inflate, a member that starts mid-line dies at the ``{`` check;
- ownership by member start offset, read-past-range for the body.

``codec="zst"`` gets the SAME splittable member path (Dolma and
RedPajama-v2 ship ``.jsonl.zst``): zstd frames are the members,
candidate = frame magic ``28 b5 2f fd``, validation = the structural
block-header walk (``gzscan.zst_frame_len`` — frame extents are
computable WITHOUT decompressing) plus the identical ``{``/JSON-line
probe predicate (`gzscan.ZstMemberScanner`).

``layout="stream"`` (or auto-detection) falls back to one
whole-file task per single-stream shard — same cliff contract as the
tar source, parallelism across shards still applies.  ``bz2``
(stdlib) is stream-only; ``xz`` splits by BLOCK via the container's
own footer index (`sources/xzblocks.py` — the layout ``xz -T``
produces), with Hadoop text-split line realignment across block
boundaries.

Output: ``(line string)`` raw JSON lines — parse with
``F.from_json``/``get_json_object`` downstream so Catalyst sees the
schema and prunes.
"""

from __future__ import annotations

import functools
import json
from typing import Iterator, NamedTuple, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from h2h_spark.sources.gzscan import (
    CodecStreamReader,
    GzMemberScanner,
    GzStreamReader,
    ZstMemberScanner,
    detect_member_layout,
    detect_zst_member_layout,
    zst_seek_table,
)
from h2h_spark.sources.util import (
    byte_ranges,
    file_size,
    list_part_files,
    record_batches,
    scan_splits,
)

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _validate_jsonl_plain(plain: bytes) -> bool:
    if not plain.startswith(b"{"):
        return False
    nl = plain.find(b"\n")
    if nl < 0:
        return True  # probe window cut mid-line; inflate+{ already strong
    try:
        json.loads(plain[:nl])
    except ValueError:
        return False
    return True


def write_jsonl_gz_members(
    path: str, lines: Sequence[str], lines_per_member: int = 16
) -> None:
    """Fixture/test writer for the splittable member-gzip framing:
    every member holds ``lines_per_member`` whole lines.  mtime pinned
    for determinism."""
    import gzip as _gzip

    with open(path, "wb") as f:
        for lo in range(0, len(lines), lines_per_member):
            block = "".join(
                ln + "\n" for ln in lines[lo:lo + lines_per_member]
            )
            f.write(_gzip.compress(block.encode(), mtime=0))


def write_jsonl_gz_stream(path: str, lines: Sequence[str]) -> None:
    """Fixture/test writer for the conventional single-stream layout."""
    import gzip as _gzip

    with open(path, "wb") as f:
        f.write(
            _gzip.compress("".join(ln + "\n" for ln in lines).encode(), mtime=0)
        )


def _zst_compress(block: bytes) -> bytes:
    """One-shot zstd frame (carries Frame_Content_Size); ``zstandard``
    if installed, else pyarrow's bundled codec.  Deterministic."""
    try:
        import zstandard

        return zstandard.ZstdCompressor(level=3).compress(block)
    except ImportError:
        return bytes(pa.Codec("zstd").compress(block))


def write_jsonl_zst_members(
    path: str,
    lines: Sequence[str],
    lines_per_member: int = 16,
    seekable: bool = False,
) -> None:
    """Fixture/test writer for the splittable member-zstd framing:
    every frame holds ``lines_per_member`` whole lines (the Dolma /
    RedPajama-v2 shard shape).  ``seekable=True`` appends the
    facebook/zstd seekable-format seek table (a trailing skippable
    frame any member-aware reader steps over) so planning needs no
    candidate scan."""
    from h2h_spark.sources.gzscan import write_zst_seek_table

    entries: list[tuple[int, int]] = []
    with open(path, "wb") as f:
        for lo in range(0, len(lines), lines_per_member):
            block = "".join(
                ln + "\n" for ln in lines[lo:lo + lines_per_member]
            ).encode()
            frame = _zst_compress(block)
            f.write(frame)
            entries.append((len(frame), len(block)))
        if seekable:
            write_zst_seek_table(f, entries)


def write_jsonl_zst_stream(path: str, lines: Sequence[str]) -> None:
    """Fixture/test writer for the single-frame (unsplittable) layout."""
    with open(path, "wb") as f:
        f.write(_zst_compress("".join(ln + "\n" for ln in lines).encode()))


def write_jsonl_lz4_members(
    path: str, lines: Sequence[str], lines_per_member: int = 16
) -> None:
    """Fixture/test writer for the splittable member-LZ4 framing: one
    LZ4 FRAME per ``lines_per_member`` whole lines (concatenated
    frames — the same shard shape as the member-zstd layout, resynced
    by `lz4frame.Lz4MemberScanner`)."""
    c = pa.Codec("lz4")
    with open(path, "wb") as f:
        for lo in range(0, len(lines), lines_per_member):
            block = "".join(
                ln + "\n" for ln in lines[lo:lo + lines_per_member]
            ).encode()
            f.write(c.compress(block, asbytes=True))


def scan_jsonl_members(
    path: str, start: int, end: int, codec: str = "gz"
) -> Iterator[str]:
    """Member layout: lines of members whose compressed start lies in
    [start, end).  ``codec`` picks the resync machinery
    (gz | zst | lz4)."""
    from h2h_spark.sources.lz4frame import Lz4MemberScanner

    scanner_cls = {
        "gz": GzMemberScanner, "zst": ZstMemberScanner,
        "lz4": Lz4MemberScanner,
    }[codec]
    scanner = scanner_cls(
        path, start, end, _validate_jsonl_plain, probe_plain=4096
    )
    for pos, plain in scanner.members():
        if plain and not plain.endswith(b"\n"):
            raise ValueError(
                f"{codec} member at offset {pos} does not end on a line "
                f"boundary — not the member-framed layout; read with "
                f'layout="stream"'
            )
        for raw in plain.splitlines():
            yield raw.decode("utf-8", "replace")


def scan_jsonl_stream(path: str, codec: str = "gz") -> Iterator[str]:
    """Single-stream layout: sequential decompress + line split.
    Memory O(chunk + one line)."""
    reader = (
        GzStreamReader(path) if codec == "gz" else CodecStreamReader(path, codec)
    )
    buf = bytearray()
    for chunk in reader.chunks():
        buf += chunk
        lines = buf.split(b"\n")
        buf = bytearray(lines.pop())
        for raw in lines:
            yield raw.decode("utf-8", "replace")
    if buf:
        yield buf.decode("utf-8", "replace")


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    codec: str = "zst",
    lines_per_member: int = 1024,
    line_col: str | None = None,
    seekable: bool = True,
) -> None:
    """Export a DataFrame as member-framed compressed JSONL shards —
    the Dolma / RedPajama-v2 publication format, written SPLITTABLY so
    this engine (or any member-aware reader) can re-scan each shard in
    parallel: one ``part_<i>.jsonl.<codec>`` per input partition (the
    engine's ``part_<i>`` naming contract), every member holding
    ``lines_per_member`` whole JSON lines.

    ``line_col`` names a string column that already contains the JSON
    line (pre-serialize with ``F.to_json(F.struct(...))`` so the JVM
    does the encoding); if None, each row is serialized to a JSON
    object of all its columns executor-side.  Executor-parallel via
    ``foreachPartition`` — no driver data path; empty partitions write
    no file.  ``seekable`` (zst only, default on) appends the
    facebook/zstd seekable-format seek table to each shard so any
    seekable-aware reader — including this engine's own planner — cuts
    exact frame-aligned splits from one footer read instead of
    scanning for frame magics."""
    if codec not in ("gz", "zst"):
        raise ValueError(
            f"write_jsonl_shards supports codec gz|zst, got {codec!r}"
        )
    from h2h_spark.sources.util import ensure_dir, strip_scheme

    import os as _os

    ensure_dir(path)
    base = strip_scheme(path)
    if line_col is None:
        from pyspark.sql import functions as F

        df = df.select(
            F.to_json(F.struct(*df.columns)).alias("__line")
        )
        line_col = "__line"
    else:
        df = df.select(line_col)

    def _write(rows):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        lines = [r[line_col] for r in rows]
        if not lines:
            return
        out = _os.path.join(base, f"part_{pid}.jsonl.{codec}")
        if codec == "gz":
            write_jsonl_gz_members(out, lines, lines_per_member)
        else:
            write_jsonl_zst_members(
                out, lines, lines_per_member, seekable=seekable
            )

    df.foreachPartition(_write)


class JsonlSplit(NamedTuple):
    path: str
    start: int  # byte offset, or first xz block
    end: int  # exclusive
    mode: str  # member | stream | bz2blocks | xzblocks


def _plan_file(
    path: str, codec: str, layout: str, max_bytes: int
) -> list[JsonlSplit]:
    size = file_size(path)
    if size == 0:
        return []
    if codec == "bz2" and layout != "stream":
        # bzip2 splits by byte range over the bit-aligned block magics
        # (sources/bz2blocks.py) — plain Hadoop byte splits; ownership =
        # magic bit offset in range
        return [
            JsonlSplit(path, s, e, "bz2blocks")
            for s, e in byte_ranges(size, max_bytes)
        ]
    if codec == "xz" and layout != "stream":
        # xz is block-splittable by DESIGN: the footer index records
        # every block's compressed/uncompressed size (what `xz -T` exists
        # for), so splits are exact block runs planned from one tail
        # read — no resync scan.
        from h2h_spark.sources.xzblocks import parse_xz_blocks

        blks = parse_xz_blocks(path)
        if not blks:
            return []
        out, run_lo, run_bytes = [], 0, 0
        for bi, blk in enumerate(blks):
            csize = (blk.unpadded + 3) & ~3
            if run_bytes and run_bytes + csize > max_bytes:
                out.append(JsonlSplit(path, run_lo, bi, "xzblocks"))
                run_lo, run_bytes = bi, 0
            run_bytes += csize
        out.append(JsonlSplit(path, run_lo, len(blks), "xzblocks"))
        return out
    if layout == "auto":
        from h2h_spark.sources.lz4frame import detect_lz4_member_layout

        detect = {
            "gz": detect_member_layout,
            "zst": detect_zst_member_layout,
            "lz4": detect_lz4_member_layout,
        }.get(codec)
        layout = "stream" if detect is None else detect(path)
    if layout == "stream":
        return [JsonlSplit(path, 0, size, "stream")]
    tbl = zst_seek_table(path) if codec == "zst" else None
    if tbl:
        # seekable fast path: exact frame-aligned splits from the seek
        # table — tasks never scan for magics and never read past their
        # range
        out, run_start, run_len = [], tbl[0][0], 0
        for off, clen, _dlen in tbl:
            if run_len and run_len + clen > max_bytes:
                out.append(JsonlSplit(path, run_start, run_start + run_len, "member"))
                run_start, run_len = off, 0
            run_len += clen
        out.append(JsonlSplit(path, run_start, run_start + run_len, "member"))
        return out
    return [JsonlSplit(path, s, e, "member") for s, e in byte_ranges(size, max_bytes)]


_SCHEMA = pa.schema([("line", pa.string())])


def _read_split(codec: str, split: JsonlSplit) -> Iterator[pa.RecordBatch]:
    if split.mode == "xzblocks":
        from h2h_spark.sources.xzblocks import xz_block_lines

        lines = (
            raw.decode("utf-8")
            for raw in xz_block_lines(split.path, split.start, split.end)
        )
    elif split.mode == "bz2blocks":
        from h2h_spark.sources.bz2blocks import bz2_block_lines

        lines = (
            raw.decode("utf-8")
            for raw in bz2_block_lines(split.path, split.start, split.end)
        )
    elif split.mode == "stream":
        lines = scan_jsonl_stream(split.path, codec)
    else:
        lines = scan_jsonl_members(split.path, split.start, split.end, codec)
    # bounded batches: a multi-GB single-stream shard never materializes
    # its whole partition in Python (O(batch + one line))
    yield from record_batches(((ln,) for ln in lines if ln), _SCHEMA)


def read_jsonl_gz(
    spark: SparkSession,
    path: str,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
    layout: str = "auto",
    codec: str = "gz",
) -> DataFrame:
    if layout not in ("auto", "member", "stream"):
        raise ValueError(f"layout must be auto|member|stream, got {layout!r}")
    if codec not in ("gz", "bz2", "xz", "zst", "lz4"):
        raise ValueError(f"codec must be gz|bz2|xz|zst|lz4, got {codec!r}")
    splits = [
        split
        for p in list_part_files(path, pattern=f"*.jsonl.{codec}")
        for split in _plan_file(p, codec, layout, max_partition_bytes)
    ]
    return scan_splits(
        spark, splits, functools.partial(_read_split, codec), "line string"
    )


def fetch_zst_frames(spark: SparkSession, locs: DataFrame) -> DataFrame:
    """Index-driven POINT FETCH into seekable ``.jsonl.zst`` shards —
    the retrieval half of the seekable-format story (the scan half is
    the planner's footer fast path): given ``locs`` rows ``(file,
    frame)``, each task reads its files' seek tables (one footer-sized
    read per file), seeks to exactly the named frames, decompresses
    ONLY those, and emits their lines as ``(file, frame, line_no,
    line)``.

    The 100 TB shape mirrors `fetch_warc_by_location`: selectivity
    translates 1:1 into frames NOT read — retrieving K documents from
    a corpus costs O(K × frame) bytes, not a scan.  Locations are
    grouped per file per task and fetched in offset order for IO
    locality.  An out-of-range frame index is a loud error (a silent
    skip would make a stale index look like missing data)."""
    from h2h_spark.sources.gzscan import _zst_decompress, zst_seek_table

    def _run(batches):
        import pandas as pd

        from h2h_spark.sources.util import open_input

        for pdf in batches:
            by_file: dict[str, list[int]] = {}
            for f, fr in zip(pdf["file"], pdf["frame"]):
                by_file.setdefault(f, []).append(int(fr))
            rows = []
            for f, frames in sorted(by_file.items()):
                tbl = zst_seek_table(f)
                if tbl is None:
                    raise ValueError(
                        f"{f}: no seekable-format seek table — point "
                        "fetch needs seekable shards (write with "
                        "seekable=True)"
                    )
                with open_input(f) as fh:
                    for fr in sorted(set(frames)):
                        if fr < 0 or fr >= len(tbl):
                            raise ValueError(
                                f"{f}: frame {fr} out of range "
                                f"(file has {len(tbl)} frames) — stale "
                                "index?"
                            )
                        off, clen, dlen = tbl[fr]
                        fh.seek(off)
                        plain = _zst_decompress(fh.read(clen), dlen)
                        # Split as BYTES, matching the scan path: str
                        # splitlines() also breaks on U+2028/U+2029/
                        # U+0085, which are legal unescaped inside JSON
                        # strings — splitting after decode would shift
                        # every subsequent line_no off the scan's index.
                        for i, ln in enumerate(plain.splitlines()):
                            rows.append((f, fr, i, ln.decode("utf-8")))
            yield pd.DataFrame(
                rows, columns=["file", "frame", "line_no", "line"]
            )

    return locs.select("file", "frame").repartition("file").mapInPandas(
        _run, "file string, frame bigint, line_no int, line string"
    )
