"""Seeded input generator for the benchmark.

Every input is written directly with numpy and pyarrow, never with the
engine's own writers, so a writer bug cannot hide a reader bug.  Each
generator returns the checksums it expects a correct reader to see.

The person record (``FIELDS``) is the benchmark's one wire layout: FLAT
files, the three CSV dialects, the XML file and the write ops' Parquet
source all carry it.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: (name, kind, width): kind ``i`` signed int, ``u`` unsigned int,
#: ``f`` IEEE double, ``s`` space-padded string.  48-byte FLAT records.
FIELDS = [
    ("id", "i", 8),
    ("fname", "s", 10),
    ("lname", "s", 12),
    ("age", "u", 1),
    ("state", "s", 2),
    ("zips", "u", 2),
    ("balance", "f", 8),
    ("street", "s", 5),
]
WIDTHS = {n: w for n, _, w in FIELDS}
RECORD_LENGTH = sum(WIDTHS.values())
STRING_FIELDS = [n for n, k, _ in FIELDS if k == "s"]
_FLAT_DTYPE = np.dtype([(n, {"i": "<i", "u": "<u", "f": "<f", "s": "S"}[k] + str(w))
                        for n, k, w in FIELDS])
PRUNED_COLUMNS = ["id", "balance"]

#: CSV dialects (the engine's ECL defaults: separator ``,``, quote ``'``).
MULTICHAR_TERMINATOR = "~|"
QUOTE = "'"

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def _pool(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    lens = rng.integers(lo, hi + 1, n)
    return np.array(["".join(rng.choice(_LETTERS, k)) for k in lens], dtype=object)


def persons(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """``n`` person records as columns; ids are a permutation of 0..n-1."""
    cols: dict[str, np.ndarray] = {"id": rng.permutation(n).astype(np.int64)}
    for name, lo in (("fname", 3), ("lname", 3), ("street", 3)):
        cols[name] = _pool(rng, 997, lo, WIDTHS[name])[rng.integers(0, 997, n)]
    cols["state"] = _pool(rng, 50, 2, 2)[rng.integers(0, 50, n)]
    cols["age"] = rng.integers(0, 121, n).astype(np.uint8)
    cols["zips"] = rng.integers(0, 65536, n).astype(np.uint16)
    cols["cents"] = rng.integers(0, 10_000_000, n).astype(np.int64)
    cols["balance"] = cols["cents"] / 100.0
    return cols


def take(cols: dict[str, np.ndarray], lo: int, hi: int) -> dict[str, np.ndarray]:
    return {k: v[lo:hi] for k, v in cols.items()}


def _by_value(col: np.ndarray, fn, dtype) -> np.ndarray:
    """``fn`` applied once per distinct value of ``col``, then spread."""
    codes, uniques = pd.factorize(col)
    return np.array([fn(u) for u in uniques], dtype=dtype)[codes]


def checksum(cols: dict[str, np.ndarray], columns: list[str] | None = None) -> dict:
    """Order-independent checksum of person records.

    ``crc`` sums ``k * CRC-32(field k)`` over the string fields (k = 1..4)
    and ``cents`` sums the balance in integer cents.  The Spark side
    computes the same aggregates (``workloads.spark_checksum``)."""
    names = columns or [n for n, _, _ in FIELDS]
    out = {"rows": int(len(cols["id"]))}
    for c in ("id", "age", "zips"):
        if c in names:
            out[c] = int(cols[c].astype(np.int64).sum())
    if "balance" in names:
        out["cents"] = int(cols["cents"].sum())
    if all(s in names for s in STRING_FIELDS):
        out["crc"] = sum(
            k * int(_by_value(cols[s], lambda v: zlib.crc32(v.encode()), np.int64).sum())
            for k, s in enumerate(STRING_FIELDS, 1))
    return out


def _text_rows(cols: dict[str, np.ndarray], quote_street: bool = False) -> list[list[str]]:
    """Each field as text, column by column."""
    out = []
    for name, kind, _ in FIELDS:
        if name == "balance":
            out.append([f"{c // 100}.{c % 100:02d}" for c in cols["cents"].tolist()])
        elif name == "street" and quote_street:
            out.append([QUOTE + v + QUOTE for v in cols[name].tolist()])
        else:
            out.append([str(v) for v in cols[name].tolist()])
    return out


def flat_bytes(cols: dict[str, np.ndarray]) -> bytes:
    """Fixed-width little-endian records, strings space-padded."""
    rec = np.zeros(len(cols["id"]), dtype=_FLAT_DTYPE)
    for name, kind, width in FIELDS:
        if kind == "s":
            rec[name] = _by_value(cols[name], lambda v: v.ljust(width).encode(), f"S{width}")
        else:
            rec[name] = cols[name]
    return rec.tobytes()


def flat_columns(data: bytes) -> dict[str, np.ndarray]:
    """Decode FLAT records with numpy alone (the read-back check must not
    share code with the engine's ``Layout.unpack``)."""
    rec = np.frombuffer(data, _FLAT_DTYPE)
    cols = {}
    for name, kind, _ in FIELDS:
        if kind == "s":
            cols[name] = _by_value(rec[name], lambda v: v.decode().rstrip(" "), object)
        else:
            cols[name] = rec[name]
    cols["cents"] = np.rint(rec["balance"] * 100).astype(np.int64)
    return cols


def csv_text(cols: dict[str, np.ndarray], terminator: str, quote_street: bool = False) -> str:
    return terminator.join(map(",".join, zip(*_text_rows(cols, quote_street)))) + terminator


def xml_text(cols: dict[str, np.ndarray]) -> str:
    tags = [(f"<{n}>", f"</{n}>") for n, _, _ in FIELDS]
    rows = ("".join(o + v + c for (o, c), v in zip(tags, row))
            for row in zip(*_text_rows(cols)))
    return "<Dataset>\n" + "".join(f"<Row>{r}</Row>\n" for r in rows) + "</Dataset>\n"


def _write(path: str, data: bytes | str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data.encode("ascii") if isinstance(data, str) else data)
    return os.path.getsize(path)


# Sizes of the read inputs, in records.  The FLAT set is three files, each
# far below one 128 MiB default split; the JVM CSV spans several splits;
# the quoted CSV is read in 1 MiB ranges.
FLAT_FILES, FLAT_ROWS = 3, 80_000
CSV_ROWS = 120_000
CSV_SPLIT_ROWS = 60_000
CSV_SPLIT_RANGE_BYTES = 1024 * 1024
XML_ROWS = 30_000


def scan_inputs(root: str, seed: int) -> dict[str, dict]:
    """Write the read inputs under ``root``.  Returns, per input, its
    path, size in bytes and expected checksum."""
    rng = np.random.default_rng([seed, 1])
    total = FLAT_FILES * FLAT_ROWS + 2 * CSV_ROWS + CSV_SPLIT_ROWS + XML_ROWS
    cols = persons(rng, total)
    out: dict[str, dict] = {}
    at = 0

    def nxt(n: int) -> dict[str, np.ndarray]:
        nonlocal at
        at += n
        return take(cols, at - n, at)

    flat = nxt(FLAT_FILES * FLAT_ROWS)
    size = 0
    for i in range(FLAT_FILES):
        part = take(flat, i * FLAT_ROWS, (i + 1) * FLAT_ROWS)
        size += _write(f"{root}/flat/part_{i}_{FLAT_FILES}", flat_bytes(part))
    out["flat"] = {"path": f"{root}/flat", "bytes": size, "expect": checksum(flat)}
    out["flat_pruned"] = dict(out["flat"], expect=checksum(flat, PRUNED_COLUMNS))

    rows = nxt(CSV_ROWS)
    path = f"{root}/csv/data.csv"
    out["csv"] = {"path": path, "bytes": _write(path, csv_text(rows, "\n")),
                  "expect": checksum(rows)}

    rows = nxt(CSV_ROWS)
    path = f"{root}/csv_multichar/data.csv"
    out["csv_multichar"] = {
        "path": path, "bytes": _write(path, csv_text(rows, MULTICHAR_TERMINATOR)),
        "expect": checksum(rows)}

    # Every fifth street holds the record terminator inside its quotes.
    rows = nxt(CSV_SPLIT_ROWS)
    street = rows["street"].copy()
    cut = slice(None, None, 5)
    street[cut] = [s[:2] + "\n" + s[2:] for s in street[cut]]
    rows["street"] = street
    path = f"{root}/csv_split/data.csv"
    out["csv_split"] = {
        "path": path, "bytes": _write(path, csv_text(rows, "\n", quote_street=True)),
        "expect": checksum(rows)}

    rows = nxt(XML_ROWS)
    path = f"{root}/xml/data.xml"
    out["xml"] = {"path": path, "bytes": _write(path, xml_text(rows)),
                  "expect": checksum(rows)}
    return out


#: Source of the write ops: Parquet in several files, so the sink sees
#: several partitions.
WRITE_ROWS, WRITE_FILES = 320_000, 8


def write_source(root: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    cols = persons(rng, WRITE_ROWS)
    types = {"i": pa.int64(), "u": pa.int32(), "f": pa.float64(), "s": pa.string()}
    step = WRITE_ROWS // WRITE_FILES
    os.makedirs(f"{root}/source", exist_ok=True)
    for i in range(WRITE_FILES):
        part = take(cols, i * step, (i + 1) * step)
        table = pa.table({n: pa.array(part[n], types[k]) for n, k, _ in FIELDS})
        pq.write_table(table, f"{root}/source/part-{i:02d}.parquet")
    return {"path": f"{root}/source", "rows": WRITE_ROWS, "expect": checksum(cols)}


def flat_buffer(seed: int, rows: int = 65_536) -> bytes:
    """A fixed buffer of FLAT records for the layout codec microtimings
    (65536 records is the FLAT reader's decode batch)."""
    return flat_bytes(persons(np.random.default_rng([seed, 3]), rows))


def merge_input(root: str, seed: int, parts: int = 4) -> tuple[str, int]:
    """A fixed set of part files for the ``merge_parts`` microtiming."""
    data = flat_buffer(seed)
    size = 0
    for i in range(parts):
        size += _write(f"{root}/merge_in/part_{i}_{parts}", data)
    return f"{root}/merge_in", size


# ------------------------------------------------------------ query tables

#: Row counts of the relational tables at scale factor 0.1 (the shape of
#: the engine's test data: a TPC-H-like star schema, events, documents).
SF = 0.02
_ROWS = {t: int(n * SF) for t, n in {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000}.items()}
_WORDS = ("a the data spark scan sort hash join agg group filter window row "
          "column table key value part line order customer batch stream merge "
          "query vector fast slow big small").split()


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def query_tables(root: str, seed: int) -> str:
    """Write the base tables the ``queries`` workload reads, one Parquet
    file each, as ``<root>/sf0.1/<table>.parquet``.  Returns that dir."""
    rng = np.random.default_rng([seed, 4])
    d = f"{root}/sf{SF}"
    os.makedirs(d, exist_ok=True)
    n = _ROWS
    tables: dict[str, dict] = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n["customer"])},
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99)},
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["red", "blue", "green", "hot", "large", "small",
                            "cold", "dark"], n["part"]),
                rng.choice(["bolt", "ring", "nut", "gear", "pipe", "screw",
                            "spring", "valve"], n["part"]))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0},
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000, 500000),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-02"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n["orders"])},
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, n["lineitem"], 900, 105000),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, n["lineitem"], "1995-01-02", "2001-10-01")},
    }
    ev = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    tables["events"] = {
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": np.sort(start + rng.integers(0, span, ev)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 2000, ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ev),
        "value": _money(rng, ev, 0, 500),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    }
    tables["documents"] = _documents(rng, n["documents"])
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{d}/{name}.parquet")
    return d


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-salad documents; 5% are near copies of an earlier document
    (one word changed) and 1% exact copies, so dedup finds work."""
    words = np.array(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(8, 90, n)]
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = str(words[int(rng.integers(0, len(words)))])
        texts[i] = " ".join(src)
    for i in rng.choice(np.arange(1, n), n // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
