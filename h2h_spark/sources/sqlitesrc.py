"""SQLite scan — database files as a first-class dataset source
(public format; many research datasets and app exports ship ``.sqlite``
/ ``.db`` files).

SQLite files are not byte-range splittable (pages of a B-tree), but the
ROWID keyspace is: the planner reads each file's ``MIN(rowid) /
MAX(rowid)`` (a footer-read-sized probe, the same role as the parquet
footer or the ZIP central directory) and cuts the rowid range into
``max(1, ceil(n_rows / max_rows_per_task))`` contiguous slices; every task
opens the file read-only (``mode=ro`` URI) and scans
``rowid >= lo AND rowid < hi`` — an index-range B-tree walk, never a
full scan per task.  Parallelism within a single big file AND across
files.

Schema comes from ``PRAGMA table_info`` with SQLite's declared-type
affinity mapped to Spark types (INTEGER→bigint, REAL→double,
TEXT→string, BLOB→binary, NUMERIC→double); rows surface through
Arrow batches.  Decoding is the stdlib ``sqlite3`` (C speed); the
engine's contribution is the distributed planning + schema mapping.

Untrusted-input discipline: the user-supplied TABLE name is allowlisted
to plain identifiers; COLUMN names come from the file itself (PRAGMA)
and are double-quote-escaped into every SELECT (``"a""b"``), so
reserved words, spaces, or hostile names in a third-party ``.db`` can
neither break the read nor alter the query.  Caveats (SQLite affinity
is advisory, sqlite.org/datatype3.html §3): a NUMERIC/REAL/INTEGER
column may legally store TEXT — such values raise a loud per-column
error rather than a bare ``ValueError`` mid-task; NUMERIC/INTEGER
values above 2^53 coerced to double would silently lose precision, so
the INTEGER path stays int64 end-to-end and only NUMERIC pays the
documented double cliff.
"""

from __future__ import annotations

import functools
import math
import re
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from h2h_spark.sources.util import list_part_files, scan_splits, strip_scheme

_DEFAULT_MAX_ROWS_PER_TASK = 1_000_000
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str, what: str) -> str:
    """USER-supplied names (the table option) are interpolated into SQL
    — allow plain identifiers only (loud, not quoted-and-prayed)."""
    if not _IDENT_RE.match(name):
        raise ValueError(f"unsupported {what} name {name!r}")
    return name


def _quote_ident(name: str) -> str:
    """FILE-derived names (columns from PRAGMA table_info) are quoted,
    not rejected: reserved words ('group') and spaced names ('name with
    space') are legal SQLite column names.  Standard double-quote
    escaping; embedded NULs are the one thing SQLite identifiers cannot
    carry safely — reject loudly at planning time."""
    if "\x00" in name:
        raise ValueError(f"column name with NUL byte: {name!r}")
    return '"' + name.replace('"', '""') + '"'


def _affinity_to_spark(decl: str) -> tuple[str, "type"]:
    """SQLite declared-type → (spark ddl type, python caster) per the
    type-affinity rules (sqlite.org/datatype3.html §3.1)."""
    d = (decl or "").upper()
    if "INT" in d:
        return "bigint", int
    if any(k in d for k in ("CHAR", "CLOB", "TEXT")):
        return "string", str
    if "BLOB" in d or d == "":
        return "binary", bytes
    if any(k in d for k in ("REAL", "FLOA", "DOUB")):
        return "double", float
    return "double", float  # NUMERIC affinity


def sqlite_table_schema(path: str, table: str) -> list[tuple[str, str]]:
    """``[(column, spark_type)]`` for one table via PRAGMA table_info."""
    import sqlite3

    _check_ident(table, "table")
    con = sqlite3.connect(f"file:{strip_scheme(path)}?mode=ro", uri=True)
    try:
        cols = con.execute(f"PRAGMA table_info({table})").fetchall()
    finally:
        con.close()
    if not cols:
        raise ValueError(f"table {table!r} not found in {path}")
    for c in cols:
        _quote_ident(c[1])  # surface unquotable names at planning time
    return [(c[1], _affinity_to_spark(c[2])[0]) for c in cols]


class SqliteSplit(NamedTuple):
    path: str
    lo: int  # rowid >= lo
    hi: int  # rowid < hi


def plan_sqlite_splits(
    paths, table: str, max_rows_per_task: int, mode: str = "range"
) -> list[SqliteSplit]:
    """Cut each file's rowid keyspace into task slices.

    ``mode="range"`` (default): MIN/MAX/COUNT probe per file (O(1)
    queries, the footer-read discipline), then uniform slices of the
    rowid SPAN — assumes a roughly dense keyspace.  A skewed space
    (mass deletions, imported rowids like epoch micros) yields uneven
    tasks: correct, but some slices carry most rows.

    ``mode="exact"``: equi-COUNT boundaries, every task
    <= max_rows_per_task rows regardless of keyspace shape.  Round 11
    reimplemented the boundary derivation as STEPPED B-TREE SEEKS
    (``... WHERE rowid > ? ORDER BY rowid LIMIT 1 OFFSET k-1``): each
    query steps k index cells inside the sqlite C engine and returns
    ONE row — the next boundary — so the planner issues ceil(n/k)
    single-row queries instead of materializing every rowid through
    the C/Python boundary.  Measured on 2M skewed rows (k=50k): 37 ms
    vs 1.05-1.36 s for the old full-fetch walk (~30x), vs 0.17-0.22 s
    for range mode — exact's skew robustness at near-range price.
    (This supersedes the bucket-histogram middle ground the round-9
    review suggested: same one-pass C-side cost, and the boundaries
    come out exactly equi-count instead of approximately.)"""
    import sqlite3

    if mode not in ("range", "exact"):
        raise ValueError(f"splitMode must be 'range' or 'exact', got {mode!r}")
    parts: list[SqliteSplit] = []
    for path in paths:
        con = sqlite3.connect(f"file:{strip_scheme(path)}?mode=ro", uri=True)
        try:
            row = con.execute(
                f"SELECT MIN(rowid), MAX(rowid), COUNT(*) FROM {table}"
            ).fetchone()
            lo, hi, n = row
            if not n:
                continue
            if mode == "exact" and n > max_rows_per_task:
                # stepped boundary seek: each query walks max_rows
                # index cells C-side and hands back one boundary rowid
                bounds = [lo]
                cur = None
                while True:
                    if cur is None:
                        row = con.execute(
                            f"SELECT rowid FROM {table} ORDER BY rowid "
                            f"LIMIT 1 OFFSET ?",
                            (max_rows_per_task - 1,),
                        ).fetchone()
                    else:
                        row = con.execute(
                            f"SELECT rowid FROM {table} WHERE rowid > ? "
                            f"ORDER BY rowid LIMIT 1 OFFSET ?",
                            (cur, max_rows_per_task - 1),
                        ).fetchone()
                    if row is None or row[0] >= hi:
                        break
                    cur = row[0]
                    bounds.append(cur + 1)
                bounds.append(hi + 1)
                for a, b in zip(bounds, bounds[1:]):
                    parts.append(SqliteSplit(path, a, b))
                continue
        finally:
            con.close()
        k = max(1, math.ceil(n / max_rows_per_task))
        span = hi - lo + 1
        base, rem = divmod(span, k)
        off = lo
        for i in range(k):
            ln = base + (1 if i < rem else 0)
            parts.append(SqliteSplit(path, off, off + ln))
            off += ln
    return parts


_BATCH_ROWS = 65536


def _read_split(
    table: str, schema: list[tuple[str, str]], split: SqliteSplit
) -> Iterator[pa.RecordBatch]:
    import sqlite3

    names = [c for c, _ in schema]
    casters = [_make_caster(t, c) for c, t in schema]
    con = sqlite3.connect(f"file:{strip_scheme(split.path)}?mode=ro", uri=True)
    try:
        cur = con.execute(
            f"SELECT {', '.join(_quote_ident(n) for n in names)} "
            f"FROM {table} WHERE rowid >= ? AND rowid < ?",
            (split.lo, split.hi),
        )
        while True:
            rows = cur.fetchmany(_BATCH_ROWS)
            if not rows:
                break
            cols = list(zip(*rows))
            arrays = [
                pa.array([None if v is None else cast(v) for v in col], typ)
                for col, (cast, typ) in zip(cols, casters)
            ]
            yield pa.record_batch(arrays, names=names)
    finally:
        con.close()


def _make_caster(spark_type: str, col: str):
    """(python caster, arrow type) for one column.  SQLite affinity is
    advisory: an INTEGER/REAL/NUMERIC column may legally hold TEXT or
    BLOB values — those raise a loud error naming the column instead of
    a bare ValueError from int()/float() mid-task."""
    if spark_type == "bigint":
        def cast_int(v):
            if isinstance(v, int):
                return v
            if isinstance(v, float):
                return int(v)
            raise ValueError(
                f"sqlite column {col!r}: non-numeric value {v!r} in an "
                "INTEGER-affinity column (SQLite affinity is advisory); "
                "read the column as TEXT or clean the file"
            )
        return cast_int, pa.int64()
    if spark_type == "double":
        def cast_float(v):
            if isinstance(v, (int, float)):
                # NUMERIC ints above 2^53 lose precision as double —
                # documented cliff (module docstring)
                return float(v)
            raise ValueError(
                f"sqlite column {col!r}: non-numeric value {v!r} in a "
                "REAL/NUMERIC-affinity column (SQLite affinity is "
                "advisory); read the column as TEXT or clean the file"
            )
        return cast_float, pa.float64()
    if spark_type == "string":
        def cast_str(v):
            if isinstance(v, bytes):
                return v.decode("utf-8", "replace")
            return str(v)
        return cast_str, pa.string()
    return bytes, pa.binary()


def write_sqlite(path: str, table: str, columns, rows) -> None:
    """Fixture/test writer: create one table and insert rows."""
    import os
    import sqlite3

    _check_ident(table, "table")
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        cols = ", ".join(f"{_quote_ident(c)} {t}" for c, t in columns)
        con.execute(f"CREATE TABLE {table} ({cols})")
        ph = ", ".join("?" * len(columns))
        con.executemany(f"INSERT INTO {table} VALUES ({ph})", rows)
        con.commit()
    finally:
        con.close()


def read_sqlite(
    spark: SparkSession,
    path: str,
    table: str,
    max_rows_per_task: int = _DEFAULT_MAX_ROWS_PER_TASK,
    split_mode: str = "range",
) -> DataFrame:
    """Rows of ``table`` across every ``.sqlite`` file under ``path``;
    the first file's ``PRAGMA table_info`` sets the schema."""
    table = _check_ident(table, "table")
    paths = list_part_files(path, pattern="*.sqlite")
    if not paths:
        raise ValueError(f"no .sqlite files under {path}")
    schema = sqlite_table_schema(paths[0], table)
    # Spark DDL backtick-quoting: escape embedded backticks by doubling so
    # any legal SQLite column name survives
    ddl = ", ".join("`" + c.replace("`", "``") + f"` {t}" for c, t in schema)
    splits = plan_sqlite_splits(paths, table, max_rows_per_task, split_mode)
    return scan_splits(
        spark, splits, functools.partial(_read_split, table, schema), ddl
    )
