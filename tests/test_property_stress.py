"""Property-based codec tests (hypothesis) + F4-style boundary stress."""
import decimal
import math
import random
import string as _string
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from h2h_spark import (
    Boolean,
    Data,
    Integer,
    Layout,
    Real,
    String,
    Unsigned,
    read_csv,
    read_flat,
    read_xml,
    write_xml,
)

# ---------------------------------------------------------------- hypothesis

_FIELD_TYPES = [
    lambda: String(random.randint(1, 20)),
    lambda: Unsigned(random.randint(1, 8)),
    lambda: Integer(random.randint(1, 8)),
    lambda: Real(random.choice([4, 8])),
    lambda: Boolean(),
]
# ASCII with the NUL/space padding bytes; half the string columns also
# draw latin-1 characters above 0x7F (the codec's per-value path).
_ASCII_CHARS = _string.ascii_letters + _string.digits + " \x00"
_LATIN1_CHARS = _ASCII_CHARS + "\xe9\xff\xa0\x80"


@st.composite
def layouts_with_data(draw):
    random.seed(draw(st.integers(0, 2**32 - 1)))
    n_fields = random.randint(1, 6)
    n_rows = draw(st.integers(1, 50))
    fields, cols = [], {}
    for i in range(n_fields):
        ft = random.choice(_FIELD_TYPES)()
        name = f"f{i}"
        fields.append((name, ft))
        if ft.kind == "string":
            # up to 3 characters over the width: encode truncates
            chars = random.choice([_ASCII_CHARS, _LATIN1_CHARS])
            cols[name] = [
                "".join(random.choices(chars, k=random.randint(0, ft.nbytes + 3)))
                for _ in range(n_rows)
            ]
        elif ft.kind == "unsigned":
            hi = (1 << (8 * ft.nbytes)) - 1
            cols[name] = [random.randint(0, hi) for _ in range(n_rows)]
        elif ft.kind == "integer":
            hi = (1 << (8 * ft.nbytes - 1)) - 1
            cols[name] = [random.randint(-hi - 1, hi) for _ in range(n_rows)]
        elif ft.kind == "real":
            cols[name] = [
                random.choice([float("nan"), None])
                if random.random() < 0.1
                else float(f"{random.uniform(-1e6, 1e6):.6g}")
                for _ in range(n_rows)
            ]
        else:
            cols[name] = [random.random() < 0.5 for _ in range(n_rows)]
        if ft.kind in ("string", "boolean") and random.random() < 0.3:
            cols[name][random.randrange(n_rows)] = None  # encodes as "" / False
    return Layout(fields), pd.DataFrame(cols)


def _expected_value(v, ft):
    """The codec's contract for one encoded-then-decoded value."""
    if ft.kind == "string":
        # STRINGn: truncate, space-pad, latin-1; decode drops trailing NULs,
        # then trailing spaces.
        raw = (v or "")[: ft.nbytes].ljust(ft.nbytes).encode("latin-1")
        return raw.rstrip(b"\x00").decode("latin-1").rstrip(" ")
    if ft.kind == "real":
        if v is None or math.isnan(v):
            return None  # NaN reads as SQL NULL
        return float(np.float32(v)) if ft.nbytes == 4 else v
    if ft.kind == "boolean":
        return bool(v)
    return int(v)


@given(layouts_with_data())
@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_pack_unpack_property(lay_pdf):
    lay, pdf = lay_pdf
    data = lay.encode(pa.RecordBatch.from_pandas(pdf, preserve_index=False))
    assert data == lay.pack(pdf)
    assert len(data) == len(pdf) * lay.record_length
    batch = lay.decode(data)
    assert batch.schema == lay.arrow_schema()
    back = lay.unpack(data)
    for name, ft in lay.fields:
        want = [_expected_value(v, ft) for v in pdf[name]]
        got = batch.column(name).to_pylist()
        if ft.kind == "unsigned" and ft.nbytes == 8:
            got = [int(v) for v in got]
        assert got == want
        assert [None if pd.isna(v) else v for v in back[name]] == want


def _reference_decode(raw: bytes, ft):
    """Per-value decode with ``int.from_bytes``/``struct`` — the reference
    the vectorized codec must match."""
    if ft.kind == "string":
        return raw.rstrip(b"\x00").decode("latin-1").rstrip(" ")
    if ft.kind == "data":
        return raw
    if ft.kind == "boolean":
        return raw != b"\x00"
    if ft.kind == "real":
        v = struct.unpack("<f" if ft.nbytes == 4 else "<d", raw)[0]
        return None if math.isnan(v) else v
    return int.from_bytes(raw, "little", signed=ft.kind == "integer")


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_decode_matches_reference_on_raw_bytes(data):
    """Decode arbitrary records: strings drawn from a mix of ASCII, latin-1
    high bytes, NULs and spaces; every other field from random bytes."""
    rng = random.Random(data.draw(st.integers(0, 2**32 - 1)))
    random.seed(rng.random())
    fields = [(f"f{i}", rng.choice(_FIELD_TYPES + [lambda: Data(random.randint(1, 6))])())
              for i in range(rng.randint(1, 6))]
    lay = Layout(fields)
    n_rows = data.draw(st.integers(0, 40))
    alphabets = [rng.choice([b"aZ \x00", b"aZ \x00\xe9\x80"]) for _ in fields]
    cells = [
        [
            bytes(rng.choice(alpha) for _ in range(ft.nbytes))
            if ft.kind == "string"
            else rng.randbytes(ft.nbytes)
            for (_, ft), alpha in zip(fields, alphabets)
        ]
        for _ in range(n_rows)
    ]
    batch = lay.decode(b"".join(b"".join(row) for row in cells))
    for j, (name, ft) in enumerate(fields):
        got = batch.column(name).to_pylist()
        if ft.kind == "unsigned" and ft.nbytes == 8:
            got = [int(v) for v in got]
        assert got == [_reference_decode(row[j], ft) for row in cells]


@given(st.integers(1, 8), st.booleans(), st.booleans())
@settings(max_examples=40, deadline=None)
def test_encode_out_of_range_int_raises(nbytes, signed, above):
    bits = 8 * nbytes
    lo, hi = (-(1 << (bits - 1)), 1 << (bits - 1)) if signed else (0, 1 << bits)
    bad = hi if above else lo - 1
    if -(1 << 63) <= bad < 1 << 63:
        col = pa.array([0, bad], pa.int64())
    elif 0 <= bad < 1 << 64:
        col = pa.array([0, bad], pa.uint64())
    else:  # beyond 64 bits: the decimal path (UNSIGNED8 read back)
        col = pa.array([decimal.Decimal(0), decimal.Decimal(bad)], pa.decimal128(38, 0))
    lay = Layout([("v", Integer(nbytes) if signed else Unsigned(nbytes))])
    with pytest.raises(OverflowError):
        lay.encode(pa.RecordBatch.from_arrays([col], ["v"]))
    with pytest.raises(ValueError, match="null"):
        lay.encode(pa.RecordBatch.from_arrays([pa.array([1, None])], ["v"]))


# ------------------------------------------------------------- F4-ish stress


def test_flat_boundary_1001_records(spark, tmp_work):
    """F4 boundary_flat: 1001 records, forced tiny splits — remainder
    spread rule must cover every record exactly once."""
    lay = Layout([("i", Integer(8)), ("s", String(38))])
    pdf = pd.DataFrame({"i": range(1001), "s": [f"row{i}" for i in range(1001)]})
    path = f"{tmp_work}/b1001.dat"
    with open(path, "wb") as f:
        f.write(lay.pack(pdf))
    back = read_flat(spark, path, lay, max_partition_bytes=46 * 10)
    assert back.count() == 1001
    assert set(r["i"] for r in back.collect()) == set(range(1001))


def test_csv_boundary_wild_lengths(spark, tmp_work):
    """F4 boundary_csv: record lengths 5 B .. 10 KiB across tiny splits."""
    rng = random.Random(42)
    rows = [(i, "x" * rng.choice([1, 5, 100, 2000, 10000])) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v string")
    from h2h_spark import write_csv

    write_csv(df, f"{tmp_work}/wild", sep=",", terminator="~~", quote="'")
    lay = Layout([("k", Integer(8)), ("v", String(10000))])
    back = read_csv(
        spark, f"{tmp_work}/wild", lay, sep=",", terminator="~~", quote="'",
        split_max_bytes=4096,
    )
    got = {r.k: r.v for r in back.collect()}
    assert got == dict(rows)


def test_xml_row_larger_than_read_chunk(spark, tmp_work):
    """F4 boundary_xml: a row element larger than the scanner's read-ahead
    chunk exercises the extension loop."""
    big = "y" * 5000
    rows = [(1, "small"), (2, big), (3, "tail")]
    df = spark.createDataFrame(rows, "k long, v string")
    write_xml(df.coalesce(1), f"{tmp_work}/bigrow", row_path="Dataset/Row")
    lay = Layout([("k", Integer(8)), ("v", String(6000))])
    back = read_xml(
        spark, f"{tmp_work}/bigrow", lay, max_partition_bytes=256, read_chunk=512
    )
    got = {r.k: r.v for r in back.collect()}
    assert got == dict(rows)


def test_flat_datasource_requires_layout(spark, tmp_work):
    path = f"{tmp_work}/x.dat"
    with open(path, "wb") as f:
        f.write(b"\x00" * 8)
    with pytest.raises(Exception, match="layout"):
        spark.read.format("h2h_flat").load(path).count()


def test_write_flat_unsigned8_from_spark_decimal(spark, tmp_work):
    """UNSIGNED8 survives the full Spark round trip (Decimal(20,0) column
    → pack → unpack → Decimal)."""
    from h2h_spark import write_flat

    lay = Layout([("id", Unsigned(8)), ("v", Unsigned(2))])
    src = spark.sql(
        f"SELECT CAST({2**64 - 1} AS DECIMAL(20,0)) AS id, 7 AS v "
        f"UNION ALL SELECT CAST(123 AS DECIMAL(20,0)), 65535"
    )
    write_flat(src, f"{tmp_work}/u8w", lay)
    back = read_flat(spark, f"{tmp_work}/u8w", lay)
    assert sorted(int(r.id) for r in back.collect()) == [123, 2**64 - 1]


# ------------------------------------------------- round-3 operator properties


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n_tokens=st.integers(1, 300), window=st.integers(2, 50),
       stride_frac=st.integers(1, 10))
def test_chunking_covers_every_token_exactly(spark, n_tokens, window, stride_frac):
    """Every token appears in >=1 chunk; non-overlap suffixes reconstruct
    the document; chunk ids are dense from 0."""
    from h2h_spark.operators.text import chunk_documents

    stride = max(1, window * stride_frac // 10)
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, "doc_id", "text", window=window, stride=stride).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [r.chunk_id for r in rows] == list(range(len(rows)))
    seen = set()
    for r in rows:
        toks = r.chunk_text.split(" ")
        assert len(toks) == r.n_tokens <= window
        seen.update(toks)
    assert seen == {f"t{i}" for i in range(n_tokens)}
    # stitching: each chunk j's fresh tokens are its suffix past the overlap
    stitched = rows[0].chunk_text.split(" ")
    for prev, cur in zip(rows, rows[1:]):
        toks = cur.chunk_text.split(" ")
        overlap = len(stitched) - (cur.chunk_id * stride)
        stitched.extend(toks[overlap:])
    assert stitched == [f"t{i}" for i in range(n_tokens)]


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vec=st.lists(st.floats(-10, 10, allow_nan=False, width=32),
                    min_size=1, max_size=32))
def test_quantization_reconstruction_bound(spark, vec):
    """|v - q*scale| <= scale/2 elementwise (plus float slack) and codes
    stay in [-127, 127]."""
    from h2h_spark.operators.simsearch import quantize_embeddings

    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    r = quantize_embeddings(df, "vec_id", "embedding").collect()[0]
    scale = max(abs(float(x)) for x in vec) / 127.0
    assert r.recon_mse <= (scale / 2) ** 2 + 1e-9
    assert r.dim == len(vec)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31 - 1))
def test_interval_join_equals_naive(spark, seed):
    """Bucketed interval join == naive range-predicate join on random data
    (keys, timestamps, spans chosen to straddle bucket boundaries)."""
    from h2h_spark.operators.interval import point_interval_join

    rnd = random.Random(seed)
    span = rnd.choice([3600, 86400, 200000])
    bucket = rnd.choice([3600, 86400])
    points = [(i, rnd.randint(1, 3), rnd.randint(0, 400000)) for i in range(40)]
    ivs = [(100 + i, rnd.randint(1, 3), rnd.randint(0, 400000)) for i in range(15)]
    p = spark.createDataFrame(points, "event_id long, k long, ts long")
    iv = spark.createDataFrame(ivs, "iv_id long, k long, start long")
    got = sorted((r.iv_id, r.event_id) for r in point_interval_join(
        p, iv, key="k", point_ts="ts", start_ts="start",
        span_sec=span, bucket_sec=bucket,
    ).collect())
    naive = sorted(
        (i_id, e_id)
        for (e_id, pk, ts) in points
        for (i_id, ik, start) in ivs
        if pk == ik and start <= ts < start + span
    )
    assert got == naive


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31 - 1))
def test_funnel_equals_naive(spark, seed):
    """funnel_stages == a brute-force per-user scan on random event logs
    (stage types shuffled, duplicate timestamps, users missing stages)."""
    from pyspark.sql import functions as F

    from h2h_spark.operators.timeseries import funnel_stages

    rnd = random.Random(seed)
    stages = ["a", "b", "c"]
    rows = [
        (rnd.randint(1, 8), rnd.randint(0, 50), rnd.choice(stages + ["x"]))
        for _ in range(120)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {
        r["user_id"]: (r["a_ts"], r["b_ts"], r["c_ts"])
        for r in funnel_stages(ev, "user_id", "ts", "event_type", stages).collect()
    }

    naive = {}
    by_user = {}
    for u, ts, t in rows:
        by_user.setdefault(u, []).append((ts, t))
    for u, evs in by_user.items():
        a = min((ts for ts, t in evs if t == "a"), default=None)
        if a is None:
            continue
        b = min((ts for ts, t in evs if t == "b" and ts > a), default=None)
        c = (
            min((ts for ts, t in evs if t == "c" and ts > b), default=None)
            if b is not None
            else None
        )
        naive[u] = (a, b, c)
    assert got == naive


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31 - 1))
def test_bm25_equals_naive(spark, seed):
    """bm25_scores == a serial python implementation of the Lucene-idf
    BM25 formula (same rounding contract) on random small corpora."""
    import math
    import re

    from h2h_spark.operators.ranking import bm25_scores

    rnd = random.Random(seed)
    vocab = ["ant", "bee", "cat", "dog", "elk"]
    docs = [
        (i, " ".join(rnd.choices(vocab, k=rnd.randint(1, 12))))
        for i in range(rnd.randint(2, 15))
    ]
    q = rnd.sample(vocab, rnd.randint(1, 3))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.score for r in bm25_scores(df, "doc_id", "text", q).collect()}

    from decimal import ROUND_HALF_UP, Decimal

    toks = {i: re.findall(r"[a-z0-9]+", t.lower()) for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in q}
    naive = {}
    for i, v in toks.items():
        # exact decimal accumulation of 6-digit contributions, then the
        # engine's rounding rule: HALF_UP over the double's full binary
        # expansion (python's round() is HALF_EVEN — wrong tie direction)
        s = Decimal(0)
        for t in q:
            tf = v.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            c = round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(v) / avgdl)), 6)
            s += Decimal(str(c))
        if s:
            # The engine rounds the double sum via Spark's round(), which
            # is Java BigDecimal.valueOf(double) — the SHORTEST decimal
            # repr (= python repr), not the full binary expansion: a sum
            # of 6-digit decimals landing on x.xxxx5 (e.g. 0.46825, found
            # by hypothesis seed 53414) must round HALF_UP to 0.4683 even
            # though its binary double is 0.468249999…
            naive[i] = float(
                Decimal(repr(float(s))).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            )
    assert got == naive


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31 - 1))
def test_event_transitions_equals_naive(spark, seed):
    from h2h_spark.operators.paths import event_transitions

    rnd = random.Random(seed)
    rows = [
        (i, rnd.randint(1, 5), rnd.randint(0, 30), rnd.choice("abc"))
        for i in range(rnd.randint(2, 80))
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts long, event_type string")
    got = {(r.cur_event, r.next_event): (r.n, r.p) for r in
           event_transitions(df, "user_id", "ts", "event_type", "event_id").collect()}

    by_user = {}
    for eid, u, ts, t in rows:
        by_user.setdefault(u, []).append((ts, eid, t))
    counts = {}
    for evs in by_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    row_tot = {}
    for (a, _), nc in counts.items():
        row_tot[a] = row_tot.get(a, 0) + nc
    # Spark round() is HALF_UP; Python round() is banker's — they split
    # at exact .xxxx5 quotients (e.g. 17/32), so the naive twin must
    # round the way the engine does
    def _r4(x: float) -> float:
        import decimal

        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    naive = {k: (nc, _r4(nc / row_tot[k[0]])) for k, nc in counts.items()}
    assert got == naive


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31 - 1))
def test_scd2_merge_equals_naive(spark, seed):
    """scd2_merge == a serial merge on random dims/batches: every key in
    the result has exactly one open row, history is never lost, and row
    contents match the four-branch rules."""
    import datetime

    from h2h_spark.operators.incremental import scd2_merge

    rnd = random.Random(seed)
    d = datetime.date
    keys = list(range(1, rnd.randint(3, 10)))
    dim_rows, naive = [], []
    for k in keys:
        if rnd.random() < 0.4:  # closed history row
            h = (k, float(rnd.randint(0, 5)), d(2019, 1, 1), d(2020, 1, 1))
            dim_rows.append(h)
            naive.append(h)
        dim_rows.append((k, float(rnd.randint(0, 5)), d(2020, 1, 1), None))
    upd_rows = [
        (k, float(rnd.randint(0, 5)), d(2024, 6, 1))
        for k in rnd.sample(keys + [99, 98], rnd.randint(0, len(keys)))
    ]
    cur = {r[0]: r for r in dim_rows if r[3] is None}
    upd = {r[0]: r for r in upd_rows}
    for k, r in cur.items():
        u = upd.get(k)
        if u is not None and u[1] != r[1]:
            naive.append((k, r[1], r[2], u[2]))
            naive.append((k, u[1], u[2], None))
        else:
            naive.append(r)
    for k, u in upd.items():
        if k not in cur:
            naive.append((k, u[1], u[2], None))

    dim = spark.createDataFrame(dim_rows, "k long, v double, valid_from date, valid_to date")
    up = spark.createDataFrame(upd_rows, "k long, v double, eff_date date") if upd_rows \
        else spark.createDataFrame([], "k long, v double, eff_date date")
    got = sorted((r.k, r.v, r.valid_from, r.valid_to)
                 for r in scd2_merge(dim, up, "k", ["v"]).collect())
    assert got == sorted(naive)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31 - 1))
def test_semantic_dedup_equals_naive(spark, seed):
    """semantic_dedup == serial python (rounded-cosine assignment with
    lowest-index tie-break, intra-cluster smaller-id near-dup rule)."""
    import math

    from h2h_spark.operators.simsearch import semantic_dedup

    rnd = random.Random(seed)
    n, dim, k, thr = rnd.randint(6, 30), 4, rnd.randint(2, 4), 0.6
    vecs = {i: [rnd.uniform(-1, 1) for _ in range(dim)] for i in range(n)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: (r.cluster, r.keep) for r in
           semantic_dedup(df, "vec_id", "embedding", n_clusters=k, threshold=thr).collect()}

    # float32 storage: python must see the same values Spark reads back
    import numpy as np

    v32 = {i: np.array(v, dtype=np.float32).astype(float) for i, v in vecs.items()}

    def cos(a, b):
        return round(
            float(np.dot(a, b)) / (math.sqrt(float(np.dot(a, a))) * math.sqrt(float(np.dot(b, b)))),
            3,
        )

    cents = [v32[i] for i in range(k)]
    assign = {}
    for i, v in v32.items():
        sims = [(-cos(v, c), ci) for ci, c in enumerate(cents)]
        assign[i] = min(sims)[1]
    dropped = set()
    for b in v32:
        for a in v32:
            if a < b and assign[a] == assign[b] and cos(v32[a], v32[b]) >= thr:
                dropped.add(b)
    naive = {i: (assign[i], i not in dropped) for i in v32}
    assert got == naive


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(seed=st.integers(0, 2**31 - 1))
def test_top_paths_equals_naive(spark, seed):
    import datetime

    from h2h_spark.operators.paths import top_paths

    rnd = random.Random(seed)
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, rnd.randint(1, 4),
         base + datetime.timedelta(minutes=rnd.randint(0, 300)),
         rnd.choice("ab"))
        for i in range(rnd.randint(2, 60))
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, event_type string")
    got = [(r.path, r.n) for r in
           top_paths(df, "user_id", "ts", "event_type", "event_id",
                     gap_minutes=30, depth=3, k=50).collect()]

    by_user = {}
    for eid, u, ts, t in rows:
        by_user.setdefault(u, []).append((ts, eid, t))
    counts = {}
    for evs in by_user.values():
        evs.sort()
        sess = []
        prev = None
        for ts, eid, t in evs:
            if prev is None or (ts - prev).total_seconds() > 1800:
                sess.append([])
            sess[-1].append(t)
            prev = ts
        for s in sess:
            p = ">".join(s[:3])
            counts[p] = counts.get(p, 0) + 1
    naive = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert got == naive


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_avro_zigzag_roundtrip(n):
    from h2h_spark.sources.avro import _zigzag_decode, _zigzag_encode

    buf = _zigzag_encode(n)
    got, pos = _zigzag_decode(buf, 0)
    assert got == n and pos == len(buf)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-2047, max_value=2047))
def test_jpeg_category_extend_roundtrip(v):
    from h2h_spark.operators.multimodal import _category, _extend

    s = _category(v)
    if v == 0:
        assert s == 0
        return
    bits = v if v > 0 else v + (1 << s) - 1
    assert 0 <= bits < (1 << s)
    assert _extend(bits, s) == v


def test_huffman_tables_are_prefix_free():
    from h2h_spark.operators.multimodal import (
        _AC_BITS, _AC_VALS, _DC_BITS, _DC_VALS, _canonical_codes)

    for bits, vals in ((_DC_BITS, _DC_VALS), (_AC_BITS, _AC_VALS)):
        codes = _canonical_codes(bits, vals)
        assert len(codes) == len(vals)
        as_strings = sorted(
            format(c, f"0{l}b") for c, l in codes.values()
        )
        for a, b in zip(as_strings, as_strings[1:]):
            assert not b.startswith(a), (a, b)


# ---------------------------------------------------------------------------
# round 9: zstd member framing + TFRecord property stress (no Spark)
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    n_lines=st.integers(1, 120),
    per_member=st.integers(1, 17),
    n_cuts=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
)
def test_zst_member_scan_split_invariance_property(
    tmp_path_factory, n_lines, per_member, n_cuts, seed
):
    """ANY cover of [0, size) by contiguous ranges yields every line
    exactly once, in file order — the splittability contract."""
    import json as _json
    import os

    from h2h_spark.sources.jsonl import (
        scan_jsonl_members, write_jsonl_zst_members,
    )

    rng = random.Random(seed)
    lines = [
        _json.dumps({"i": i, "s": "".join(
            rng.choices(_string.ascii_letters, k=rng.randint(0, 40))
        )}, sort_keys=True)
        for i in range(n_lines)
    ]
    d = tmp_path_factory.mktemp("zstprop")
    p = str(d / "x.jsonl.zst")
    write_jsonl_zst_members(p, lines, lines_per_member=per_member)
    size = os.path.getsize(p)
    cuts = sorted(rng.randint(0, size) for _ in range(n_cuts))
    bounds = [0] + cuts + [size]
    got = []
    for a, b in zip(bounds, bounds[1:]):
        if a < b:
            got.extend(scan_jsonl_members(p, a, b, "zst"))
    assert got == lines


@settings(max_examples=25, deadline=None)
@given(
    payload_sizes=st.lists(st.integers(0, 3000), min_size=1, max_size=60),
    n_cuts=st.integers(1, 7),
    seed=st.integers(0, 2**31 - 1),
)
def test_tfrecord_split_invariance_property(
    tmp_path_factory, payload_sizes, n_cuts, seed
):
    import os

    from h2h_spark.sources.tfrecord import (
        scan_tfrecord_range, write_tfrecords,
    )

    rng = random.Random(seed)
    payloads = [rng.randbytes(sz) for sz in payload_sizes]
    d = tmp_path_factory.mktemp("tfprop")
    p = str(d / "x.tfrecord")
    write_tfrecords(p, payloads)
    size = os.path.getsize(p)
    cuts = sorted(rng.randint(0, size) for _ in range(n_cuts))
    bounds = [0] + cuts + [size]
    got = []
    for a, b in zip(bounds, bounds[1:]):
        if a < b:
            got.extend(data for _, data in scan_tfrecord_range(p, a, b))
    assert got == payloads


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=9000))
def test_crc32c_vec_scalar_equivalence_property(data):
    from h2h_spark.sources.tfrecord import _crc_update, crc32c

    assert crc32c(data) == (~_crc_update(0xFFFFFFFF, data) & 0xFFFFFFFF)


# ---------------------------------------------------------------------------
# model-artifact tier property tests (round 10, session 2)
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(n=st.integers(1, 200), d=st.integers(1, 48),
       seed=st.integers(0, 2**31 - 1),
       dt=st.sampled_from(["<f4", "<f8", "<i8", "<i2", "<f2"]))
def test_safetensors_header_roundtrip_property(tmp_path_factory, n, d,
                                               seed, dt):
    """write → read_header preserves dtype/shape/offsets for any 2-D
    tensor; data bytes land exactly where the header says."""
    import numpy as np

    from h2h_spark.sources.safetensors import (
        _DTYPES, read_header, write_safetensors,
    )

    tmp = tmp_path_factory.mktemp("st")
    rng = np.random.default_rng(seed)
    if dt[1] == "f":
        arr = rng.standard_normal((n, d)).astype(dt)
    else:
        arr = rng.integers(-100, 100, size=(n, d)).astype(dt)
    p = str(tmp / "t.safetensors")
    write_safetensors(p, {"x": arr})
    header, data_start = read_header(p)
    info = header["x"]
    assert info["shape"] == [n, d]
    b0, b1 = info["data_offsets"]
    np_s, itemsize, _ = _DTYPES[info["dtype"]]
    assert b1 - b0 == n * d * itemsize
    raw = open(p, "rb").read()[data_start + b0:data_start + b1]
    back = np.frombuffer(raw, dtype=np_s).reshape(n, d)
    assert back.tobytes() == arr.tobytes()


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(n=st.integers(1, 120), d=st.integers(1, 20),
       seed=st.integers(0, 2**31 - 1), v1=st.booleans())
def test_npy_header_roundtrip_property(tmp_path_factory, n, d, seed, v1):
    """np.save → parse_npy_header agrees with numpy's own reader for
    arbitrary 2-D shapes."""
    import numpy as np

    from h2h_spark.sources.npy import parse_npy_header

    tmp = tmp_path_factory.mktemp("npy")
    rng = np.random.default_rng(seed)
    arr = rng.standard_normal((n, d)).astype("<f4")
    p = tmp / "a.npy"
    np.save(p, arr)
    raw = p.read_bytes()
    descr, shape, fortran, off = parse_npy_header(raw, "t")
    assert shape == (n, d) and not fortran
    back = np.frombuffer(raw[off:], dtype=descr).reshape(shape)
    assert (back == arr).all()


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(seed=st.integers(0, 2**31 - 1))
def test_bf16_rne_matches_reference(seed):
    """The vectorized RNE bf16 conversion matches the scalar reference
    (truncate-with-round-to-nearest-even on bit 16)."""
    import struct

    import numpy as np

    from h2h_spark.sources.safetensors import bf16_to_f32, f32_to_bf16_bytes

    rng = np.random.default_rng(seed)
    vals = np.concatenate([
        rng.standard_normal(64),
        rng.uniform(-1e30, 1e30, 8),
        np.array([0.0, -0.0, 1.0, 2.0**-126]),
    ]).astype("<f4")
    got = np.frombuffer(f32_to_bf16_bytes(vals), dtype="<u2")
    for v, g in zip(vals, got):
        bits = struct.unpack("<I", struct.pack("<f", v))[0]
        ref = (bits + 0x7FFF + ((bits >> 16) & 1)) >> 16
        assert g == (ref & 0xFFFF)
    # widening really is exact top-half reconstruction
    wide = bf16_to_f32(got)
    assert (np.frombuffer(wide.tobytes(), dtype="<u4") >> 16
            == got.astype("<u4")).all()
