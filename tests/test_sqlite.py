"""SQLite source: rowid-range split planning, schema affinity mapping."""

import os

import pytest

from h2h_spark.sources.sqlitesrc import (
    read_sqlite,
    sqlite_table_schema,
    write_sqlite,
)


def _make(path, n=500):
    write_sqlite(
        path, "docs",
        [("id", "INTEGER"), ("name", "TEXT"), ("score", "REAL"),
         ("payload", "BLOB")],
        [(i, f"name {i}", i * 0.5, bytes([i % 256]) * (i % 5))
         for i in range(n)],
    )


def test_sqlite_roundtrip_split(spark, tmp_work):
    p = f"{tmp_work}/a.sqlite"
    _make(p)
    df = read_sqlite(spark, p, "docs", max_rows_per_task=100)
    assert df.rdd.getNumPartitions() >= 5
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 500
    assert rows[7]["name"] == "name 7" and rows[7]["score"] == 3.5
    assert bytes(rows[9]["payload"]) == bytes([9]) * 4
    assert rows[3]["payload"] is not None


def test_sqlite_multi_file(spark, tmp_work):
    d = f"{tmp_work}/db"
    os.makedirs(d)
    _make(f"{d}/p0.sqlite", 100)
    _make(f"{d}/p1.sqlite", 50)
    df = read_sqlite(spark, d, "docs")
    assert df.count() == 150


def test_sqlite_schema_and_guards(tmp_work):
    p = f"{tmp_work}/s.sqlite"
    _make(p, 10)
    assert sqlite_table_schema(p, "docs") == [
        ("id", "bigint"), ("name", "string"), ("score", "double"),
        ("payload", "binary"),
    ]
    with pytest.raises(ValueError, match="not found"):
        sqlite_table_schema(p, "nope")
    with pytest.raises(ValueError, match="table name"):
        sqlite_table_schema(p, "docs; DROP TABLE docs")


def test_sqlite_nulls(spark, tmp_work):
    p = f"{tmp_work}/n.sqlite"
    write_sqlite(p, "t", [("id", "INTEGER"), ("v", "TEXT")],
                 [(1, "a"), (2, None), (3, "c")])
    rows = {r["id"]: r["v"] for r in read_sqlite(spark, p, "t").collect()}
    assert rows == {1: "a", 2: None, 3: "c"}


def test_sqlite_empty_table(spark, tmp_work):
    p = f"{tmp_work}/e.sqlite"
    write_sqlite(p, "t", [("id", "INTEGER")], [])
    assert read_sqlite(spark, p, "t").count() == 0


def test_sqlite_sparse_rowids(spark, tmp_work):
    # deleted rows leave rowid gaps; range slicing must still cover all
    import sqlite3

    p = f"{tmp_work}/g.sqlite"
    _make(p, 300)
    con = sqlite3.connect(p)
    con.execute("DELETE FROM docs WHERE id % 3 = 0")
    con.commit()
    con.close()
    df = read_sqlite(spark, p, "docs", max_rows_per_task=50)
    ids = sorted(r["id"] for r in df.collect())
    assert ids == [i for i in range(300) if i % 3 != 0]


def test_sqlite_numeric_affinity(spark, tmp_work):
    p = f"{tmp_work}/num.sqlite"
    write_sqlite(p, "t", [("id", "INTEGER"), ("v", "NUMERIC")],
                 [(1, 2.5), (2, 7)])
    rows = {r["id"]: r["v"] for r in read_sqlite(spark, p, "t").collect()}
    assert rows == {1: 2.5, 2: 7.0}


def test_sqlite_exact_split_balances_skewed_rowids(spark, tmp_work):
    # skewed rowid keyspace (mass deletion / imported epoch-like ids):
    # range mode is correct but lopsided; exact mode equi-counts
    import sqlite3

    from h2h_spark.sources.sqlitesrc import plan_sqlite_splits

    p = f"{tmp_work}/skew.sqlite"
    write_sqlite(
        p, "t", [("id", "INTEGER")], [],
    )
    con = sqlite3.connect(p)
    # 200 rows at rowids 1..200, 200 more at 1_000_000_000+
    con.executemany(
        "INSERT INTO t (rowid, id) VALUES (?, ?)",
        [(i + 1, i) for i in range(200)]
        + [(1_000_000_000 + i, 200 + i) for i in range(200)],
    )
    con.commit()
    con.close()

    def _counts(mode):
        parts = plan_sqlite_splits([p], "t", 100, mode)
        con = sqlite3.connect(p)
        try:
            return [
                con.execute(
                    "SELECT COUNT(*) FROM t WHERE rowid >= ? AND rowid < ?",
                    (q.lo, q.hi),
                ).fetchone()[0]
                for q in parts
            ]
        finally:
            con.close()

    range_counts = _counts("range")
    exact_counts = _counts("exact")
    assert sum(range_counts) == sum(exact_counts) == 400
    assert max(range_counts) >= 200          # lopsided under skew
    assert max(exact_counts) <= 100          # equi-count bound holds
    # end-to-end read agrees in both modes
    ids_exact = sorted(
        r["id"] for r in read_sqlite(
            spark, p, "t", max_rows_per_task=100, split_mode="exact"
        ).collect()
    )
    assert ids_exact == list(range(400))
    with pytest.raises(ValueError, match="splitMode"):
        plan_sqlite_splits([p], "t", 100, "bogus")


def test_sqlite_reserved_and_spaced_columns(spark, tmp_work):
    # file-derived column names are quoted, not rejected: reserved words
    # and spaces are legal SQLite identifiers (ADVICE r09 medium)
    p = f"{tmp_work}/q.sqlite"
    write_sqlite(
        p, "t",
        [("group", "INTEGER"), ("name with space", "TEXT"),
         ('has"quote', "REAL")],
        [(1, "a", 0.5), (2, "b", 1.5)],
    )
    assert sqlite_table_schema(p, "t") == [
        ("group", "bigint"), ("name with space", "string"),
        ('has"quote', "double"),
    ]
    df = read_sqlite(spark, p, "t")
    rows = sorted((r["group"], r["name with space"], r['has"quote'])
                  for r in df.collect())
    assert rows == [(1, "a", 0.5), (2, "b", 1.5)]


def test_sqlite_numeric_text_value_loud_error(spark, tmp_work):
    # NUMERIC affinity may legally store TEXT; the caster must raise a
    # clear error naming the column, not a bare ValueError (ADVICE r09)
    import sqlite3

    p = f"{tmp_work}/badnum.sqlite"
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE t (id INTEGER, v NUMERIC)")
    con.execute("INSERT INTO t VALUES (1, 'abc')")
    con.commit()
    con.close()
    with pytest.raises(Exception, match="column 'v'.*advisory"):
        read_sqlite(spark, p, "t").collect()


def test_sqlite_integer_text_value_loud_error(spark, tmp_work):
    import sqlite3

    p = f"{tmp_work}/badint.sqlite"
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE t (id INTEGER)")
    con.execute("INSERT INTO t VALUES ('xyz')")
    con.commit()
    con.close()
    with pytest.raises(Exception, match="column 'id'.*advisory"):
        read_sqlite(spark, p, "t").collect()


def test_sqlite_text_column_with_blob_value(spark, tmp_work):
    # TEXT affinity may hold BLOBs: decode utf-8 (replace), never repr()
    import sqlite3

    p = f"{tmp_work}/tb.sqlite"
    con = sqlite3.connect(p)
    con.execute("CREATE TABLE t (id INTEGER, v TEXT)")
    con.execute("INSERT INTO t VALUES (1, x'68690aff')")  # "hi\n" + 0xff
    con.commit()
    con.close()
    rows = read_sqlite(spark, p, "t").collect()
    assert rows[0]["v"].startswith("hi\n")


def test_sqlite_exact_split_multicluster_skew(spark, tmp_work):
    """Round-11 stepped-seek exact planner: bounded tasks on a
    three-cluster + sparse-tail keyspace, with only one single-row
    query per boundary crossing the C/Python boundary."""
    import sqlite3

    from h2h_spark.sources.sqlitesrc import plan_sqlite_splits

    p = f"{tmp_work}/hskew.sqlite"
    write_sqlite(p, "t", [("id", "INTEGER")], [])
    con = sqlite3.connect(p)
    # three clusters across a 10^12 keyspace + a sparse tail
    rows, rid = [], 0
    for base in (1, 5_000_000, 1_000_000_000_000):
        for i in range(300):
            rows.append((base + i, rid))
            rid += 1
    for i in range(100):  # sparse stragglers
        rows.append((7_000_000_000 + i * 9_999_991, rid))
        rid += 1
    con.executemany("INSERT INTO t (rowid, id) VALUES (?, ?)", rows)
    con.commit()
    con.close()

    def _counts(mode):
        parts = plan_sqlite_splits([p], "t", 100, mode)
        c = sqlite3.connect(p)
        try:
            return [
                c.execute(
                    "SELECT COUNT(*) FROM t WHERE rowid >= ? AND rowid < ?",
                    (q.lo, q.hi),
                ).fetchone()[0]
                for q in parts
            ]
        finally:
            c.close()

    hist = _counts("exact")
    assert sum(hist) == 1000                  # full coverage, no overlap
    assert max(hist) <= 100                   # per-task bound holds
    rng = _counts("range")
    assert max(rng) >= 300                    # range mode is lopsided here
    # end-to-end read through read_sqlite agrees
    ids = sorted(
        r["id"] for r in read_sqlite(
            spark, p, "t", max_rows_per_task=100, split_mode="exact"
        ).collect()
    )
    assert ids == list(range(1000))


def test_sqlite_exact_split_dense_keyspace(tmp_work):
    """Stepped-seek boundaries on a fully dense keyspace (the easy
    case) still land exactly on equi-count edges."""
    import sqlite3

    from h2h_spark.sources.sqlitesrc import plan_sqlite_splits

    p = f"{tmp_work}/dense.sqlite"
    write_sqlite(p, "t", [("id", "INTEGER")], [])
    con = sqlite3.connect(p)
    con.executemany(
        "INSERT INTO t (rowid, id) VALUES (?, ?)",
        [(i + 1, i) for i in range(500)],   # fully dense
    )
    con.commit()
    con.close()
    parts = plan_sqlite_splits([p], "t", 50, "exact")
    con = sqlite3.connect(p)
    try:
        counts = [
            con.execute(
                "SELECT COUNT(*) FROM t WHERE rowid >= ? AND rowid < ?",
                (q.lo, q.hi),
            ).fetchone()[0]
            for q in parts
        ]
    finally:
        con.close()
    assert sum(counts) == 500 and max(counts) <= 50
