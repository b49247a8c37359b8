"""Quote-parity CSV split scanner — distributed scan of CSV whose QUOTED
FIELDS may CONTAIN the record terminator.

The reference handles quoted terminators inside its byte-range CSV scan by
toggling quote parity while searching for the record boundary
(``libhdfsconnector.cpp:437-441,476-558``): a terminator only ends a record
when the count of quote characters seen so far is even.  Its parity state
starts at 0 at the *split start*, which realigns correctly unless a split
begins inside a quoted region.  Spark's native CSV source doesn't attempt
this at all: ``multiLine`` mode simply disables intra-file splitting — one
task per file, the documented scale cliff (SCALE.md, SURVEY.md §4.2).

This module closes that gap with an EXACT two-pass distributed design
(the "speculative CSV parsing" problem; cf. Ge et al., "Speculative
Distributed CSV Data Parsing for Big Data Analytics", SIGMOD'19 — we use
the deterministic two-pass variant rather than speculation):

1. **Parity pass** — every byte range counts its quote bytes (a C-speed
   ``bytes.count``, embarrassingly parallel, one ``int`` per range back to
   the driver).  A prefix-XOR over ranges in file order yields the TRUE
   quote parity at every split start.  Cost: one extra sequential read of
   the file bytes, no shuffle, O(#splits) driver state.
2. **Aligned scan pass** — each split, knowing its true starting parity,
   skips to the first terminator at parity 0 (that terminator ends a
   record owned by an earlier split) and then yields every record that
   STARTS at offset ≤ its range end (Hadoop ``LineRecordReader``'s
   split-ownership convention: the next split discards its first partial
   record, so the record starting exactly on the boundary belongs to the
   left split).  Records are handed to the JVM as one string column;
   field decoding is ``from_csv`` — codegen'd, not Python.

Unlike the reference's heuristic, a split that starts mid-quoted-field
cannot misalign: its starting parity is known, not assumed.  Files with
ZERO quotes short-circuit pass 1 per-range counts to parity 0 everywhere,
reducing to plain ``LineRecordReader`` semantics.

Scale posture: the driver turns the parities into one
``(path, start, end, parity)`` descriptor per range and
:func:`~h2h_spark.sources.util.scan_splits` runs one task per descriptor;
a task receives only its own.  Ranges default to 64 MiB (~1.6M tasks for
100 TB), and the scan has no size estimate, so Spark never broadcasts it.
"""

from __future__ import annotations

import functools
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from h2h_spark.sources.util import (
    byte_ranges,
    file_size,
    list_part_files,
    open_input,
    scan_splits,
)

_DEFAULT_MAX_PARTITION_BYTES = 64 * 1024 * 1024
_READ_CHUNK = 4 * 1024 * 1024
_BATCH_RECORDS = 8192


def check_terminator(terminator: str) -> None:
    """Reject SELF-OVERLAPPING multi-char terminators (a proper prefix
    equal to a suffix, e.g. ``~~``): under split-local alignment a
    rewound match can land mid-terminator, which no local scheme can
    disambiguate (the classic custom-delimiter split hazard; Hadoop's
    LineRecordReader had the same boundary bug, MAPREDUCE-6481).
    ``\\n`` and ``\\r\\n`` — the dialect's real terminators — are fine."""
    t = terminator
    for k in range(1, len(t)):
        if t[:k] == t[len(t) - k:]:
            raise ValueError(
                f"terminator {terminator!r} overlaps itself (prefix == "
                "suffix): split-local record alignment is ambiguous — use "
                "a non-self-overlapping terminator or the multiLine path"
            )


def quote_parities(
    spark: SparkSession,
    files: list[str],
    max_partition_bytes: int,
    quote: str,
) -> dict[str, list[int]]:
    """Pass 1: per-range quote-byte counts as a Spark job (each task reads
    only its range and returns ONE int), then a driver-side prefix-XOR in
    file order.  Driver state is O(#splits) ints — safe at any file size."""
    qb = quote.encode("utf-8")
    ranges = [
        (path, s, e)
        for path in files
        for (s, e) in byte_ranges(file_size(path), max_partition_bytes)
    ]
    if not ranges:
        return {}

    def _count(r: tuple[str, int, int]) -> tuple[str, int, int]:
        path, s, e = r
        with open_input(path) as f:
            f.seek(s)
            return (path, s, f.read(e - s).count(qb))

    counts = (
        spark.sparkContext.parallelize(ranges, len(ranges)).map(_count).collect()
    )
    by_file: dict[str, list[tuple[int, int]]] = {}
    for path, s, c in counts:
        by_file.setdefault(path, []).append((s, c))
    parities: dict[str, list[int]] = {}
    for path, lst in by_file.items():
        lst.sort()
        par, out = 0, []
        for _, c in lst:
            out.append(par)
            par ^= c & 1
        parities[path] = out
    return parities


class CsvQSplit(NamedTuple):
    path: str
    start: int
    end: int
    parity: int


def _scan_records(
    path: str,
    start: int,
    end: int,
    parity: int,
    terminator: bytes,
    quote: bytes,
    read_chunk: int = _READ_CHUNK,
) -> Iterator[bytes]:
    """Yield the raw bytes of every record owned by split ``[start, end)``
    given the TRUE quote parity at ``start``.

    A terminator ends a record only at quote parity 0.  Ownership: records
    whose first byte is at offset ≤ ``end`` (Hadoop convention — see
    module docstring); the first boundary found from ``start`` (when
    ``start > 0``) closes a record owned to the left."""
    tlen = len(terminator)
    # A multi-char terminator may STRADDLE the split edge (its bytes on
    # both sides of `start`); rewind the scan window by tlen-1 bytes so
    # the straddling match is visible, and adjust the parity to the
    # rewound position.  Exact only for self-overlap-free terminators
    # (e.g. '\r\n'); self-overlapping ones are rejected at the API edge.
    rewind = min(tlen - 1, start)
    with open_input(path) as f:
        f.seek(start - rewind)
        data = f.read(rewind + (end - start) + read_chunk)
        eof = len(data) < rewind + (end - start) + read_chunk
        parity ^= data[:rewind].count(quote) & 1

        def _extend() -> bool:
            nonlocal data, eof
            if eof:
                return False
            chunk = f.read(read_chunk)
            if not chunk:
                eof = True
                return False
            data += chunk
            return True

        def _find_boundary(pos: int, par: int) -> int:
            """Offset of the first parity-0 terminator at/after ``pos``
            (``par`` = quote parity at ``pos``), extending the buffer as
            needed; -1 at true EOF.  On a buffer miss the scan resumes
            ``tlen-1`` bytes before the old end so a terminator straddling
            the buffer edge is still seen, with the parity advanced to
            exactly that resume point — never past it."""
            while True:
                i = data.find(terminator, pos)
                if i >= 0:
                    p = (par + data.count(quote, pos, i)) & 1
                    if p == 0:
                        return i
                    # terminator inside quotes: step past it and go on
                    # (parity now known at i; the step crosses no quotes)
                    par, pos = p, i + 1
                    continue
                resume = max(pos, len(data) - tlen + 1)
                par = (par + data.count(quote, pos, resume)) & 1
                pos = resume
                if not _extend():
                    return -1

        limit = rewind + (end - start)  # relative offset of the range end
        pos = 0
        if start > 0:
            # Discard the partial (or boundary-straddling) first record:
            # this split's first owned record starts after the first
            # parity-0 terminator whose END lies strictly past `start`
            # (a terminator ending AT `start` closes a record the left
            # split already read as its one-past-the-edge extra).
            b = _find_boundary(0, parity)
            while b >= 0 and b + tlen <= rewind:
                b = _find_boundary(b + tlen, 0)
            if b < 0:
                return  # no record boundary at/after start: nothing owned
            pos = b + tlen

        # Records start at quote parity 0 by construction, so every
        # subsequent boundary scan starts from parity 0.
        while pos <= limit:
            b = _find_boundary(pos, 0)
            if b < 0:
                # EOF with an unterminated trailing record.
                if len(data) > pos:
                    yield data[pos:]
                return
            yield data[pos:b]
            pos = b + tlen


def _read_split(
    terminator: bytes, quote: bytes, part: CsvQSplit
) -> Iterator[pa.RecordBatch]:
    """One ``value`` string per record the range owns, in Arrow batches."""
    batch: list[str] = []
    for rec in _scan_records(
        part.path, part.start, part.end, part.parity, terminator, quote
    ):
        if not rec:
            continue
        batch.append(rec.decode("utf-8"))
        if len(batch) >= _BATCH_RECORDS:
            yield pa.RecordBatch.from_arrays([pa.array(batch)], ["value"])
            batch = []
    if batch:
        yield pa.RecordBatch.from_arrays([pa.array(batch)], ["value"])


def read_csv_quoted_splits(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    sep: str = ",",
    terminator: str = "\n",
    quote: str = "'",
    timestamp_format: str | None = None,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> DataFrame:
    """Distributed read of CSV with terminators inside quoted fields —
    exact record boundaries at ANY split size (no ``multiLine``
    one-task-per-file cliff).  Runs the parity pass, then the aligned
    scan; ``from_csv`` (JVM) decodes fields with the engine's standard
    empty-vs-null contract (quote-parity escaping, ``\\N`` null
    sentinel)."""
    check_terminator(terminator)
    files = list_part_files(path, pattern="*")
    parities = quote_parities(spark, files, max_partition_bytes, quote)
    # Quote-free files need no separate path: parity 0 everywhere already
    # makes the scan's quote counting a no-op.
    splits = [
        CsvQSplit(p, s, e, par)
        for p in files
        for (s, e), par in zip(
            byte_ranges(file_size(p), max_partition_bytes), parities.get(p, ())
        )
    ]
    read = functools.partial(
        _read_split, terminator.encode("utf-8"), quote.encode("utf-8")
    )
    lines = scan_splits(
        spark, splits, read, T.StructType([T.StructField("value", T.StringType())])
    )
    opts = {
        "sep": sep,
        "quote": quote,
        "escape": quote,
        "mode": "PERMISSIVE",
        "emptyValue": "",
        "nullValue": "\\N",
        "multiLine": "true",  # record strings legitimately contain \n
    }
    if timestamp_format:
        opts["timestampFormat"] = timestamp_format
    parsed = lines.select(
        F.from_csv(F.col("value"), schema.simpleString(), opts).alias("r")
    )
    return parsed.select("r.*")
