"""Wire-format sources: FLAT/CSV/XML round trips, boundaries, merge."""
import glob
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from h2h_spark import (
    Integer,
    Layout,
    Real,
    String,
    Unsigned,
    file_status,
    merge_parts,
    read_csv,
    read_flat,
    read_xml,
    write_csv,
    write_flat,
    write_xml,
)
from h2h_spark.sources.flat import plan_flat_splits
from h2h_spark.sources.merge import write_single_file
from h2h_spark.sources.util import expand_escapes

from tests.conftest import SF_DIR

CUST_LAYOUT = Layout(
    [
        ("c_custkey", Integer(8)),
        ("c_name", String(32)),
        ("c_nationkey", Integer(4)),
        ("c_acctbal", Real(8)),
        ("c_mktsegment", String(12)),
    ]
)


def _cust(spark):
    return spark.read.parquet(f"{SF_DIR}/customer.parquet")


def _as_set(df):
    return set(tuple(r) for r in df.collect())


def test_expand_escapes():
    assert expand_escapes("\\n") == "\n"
    assert expand_escapes("\\r\\n") == "\r\n"
    assert expand_escapes("\\t\\0") == "\t\0"
    # unknown escape: DROPPED entirely (reference expandEscapedChars
    # default case appends nothing, hdfsconnector.hpp:74-129)
    assert expand_escapes("a\\qb") == "ab"


def test_flat_roundtrip_tiny_splits(spark, tmp_work):
    cust = _cust(spark)
    write_flat(cust, f"{tmp_work}/flat", CUST_LAYOUT)
    back = read_flat(spark, f"{tmp_work}/flat", CUST_LAYOUT, max_partition_bytes=640)
    assert back.rdd.getNumPartitions() > 3  # forced many record-aligned splits
    assert _as_set(back) == _as_set(cust)


def test_flat_part_naming(spark, tmp_work):
    cust = _cust(spark).repartition(3)
    infos = write_flat(cust, f"{tmp_work}/flat3", CUST_LAYOUT)
    names = sorted(os.path.basename(i.path) for i in infos)
    assert names == ["part_0_3", "part_1_3", "part_2_3"]
    assert sum(i.n_rows for i in infos) == 150


def test_flat_split_plan_balance(tmp_work):
    reclen = 46
    path = f"{tmp_work}/b.dat"
    with open(path, "wb") as f:
        f.write(b"\x00" * (1001 * reclen))
    parts = plan_flat_splits([path], reclen, max_partition_bytes=reclen * 100)
    counts = [p.n_records for p in parts]
    assert sum(counts) == 1001
    assert max(counts) - min(counts) <= 1  # balanced ±1, remainder to low ids
    assert counts[0] >= counts[-1]
    # offsets contiguous and record-aligned
    off = 0
    for p in parts:
        assert p.offset == off
        off += p.n_records * reclen


def test_csv_crlf_and_quote_parity(spark, tmp_work):
    pdf = pd.DataFrame(
        {"k": [1, 2, 3], "v": ["plain", "with,comma", "it's odd"]}
    )
    df = spark.createDataFrame(pdf)
    lay = Layout([("k", Integer(8)), ("v", String(20))])
    write_csv(df, f"{tmp_work}/crlf", sep=",", terminator="\\r\\n", quote="'")
    back = read_csv(spark, f"{tmp_work}/crlf", lay, sep=",", terminator="\\r\\n", quote="'")
    assert _as_set(back) == _as_set(df)


def test_csv_multichar_terminator_boundary(spark, tmp_work):
    cust = _cust(spark)
    write_csv(cust, f"{tmp_work}/mc", sep="|", terminator="@@", quote="'")
    back = read_csv(
        spark, f"{tmp_work}/mc", CUST_LAYOUT, sep="|", terminator="@@",
        quote="'", split_max_bytes=512,
    )
    assert _as_set(back) == _as_set(cust)


def test_csv_no_trailing_terminator(spark, tmp_work):
    # last record without terminator must still be emitted (§4.3.4)
    path = f"{tmp_work}/noeol.csv"
    with open(path, "w") as f:
        f.write("1,a\n2,b\n3,c")  # no trailing \n
    lay = Layout([("k", Integer(8)), ("v", String(5))])
    back = read_csv(spark, path, lay, sep=",")
    assert back.count() == 3


def test_xml_header_footer_override(spark, tmp_work):
    """-headertext/-footertext parity (hdfsconnector.hpp:353-360)."""
    from h2h_spark import write_xml

    df = spark.createDataFrame([(1, "a")], "k long, v string").coalesce(1)
    write_xml(df, f"{tmp_work}/hf", row_path="Dataset/Row",
              header_text="<!-- custom --><Dataset>",
              footer_text="</Dataset><!-- end -->")
    import glob

    data = open(glob.glob(f"{tmp_work}/hf/part_*")[0]).read()
    assert data.startswith("<!-- custom --><Dataset>")
    assert data.rstrip().endswith("</Dataset><!-- end -->")


def test_xml_unexpected_tag_between_records_raises(spark, tmp_work):
    """Reference parity (libhdfsconnector.cpp:318-327): a non-wrapper tag
    between records aborts — we raise instead of silently truncating."""
    import pytest

    lay = Layout([("k", Integer(8)), ("v", String(8))])
    path = f"{tmp_work}/corrupt.xml"
    with open(path, "w") as f:
        f.write("<Dataset><Row><k>1</k><v>a</v></Row>"
                "<Oops>stray</Oops>"
                "<Row><k>2</k><v>b</v></Row></Dataset>")
    from h2h_spark import read_xml

    with pytest.raises(Exception, match="[Uu]nexpected tag"):
        read_xml(spark, path, lay).collect()
    # declared wrappers between records are fine (sectioned files)
    path2 = f"{tmp_work}/sections.xml"
    with open(path2, "w") as f:
        f.write("<Dataset><Area><Row><k>1</k><v>a</v></Row></Area>"
                "<Area><Row><k>2</k><v>b</v></Row></Area></Dataset>")
    got = read_xml(spark, path2, lay, row_tag="Dataset/Area/Row").collect()
    assert {(r.k, r.v) for r in got} == {(1, "a"), (2, "b")}
    # strict=False restores skip-anything scanning
    got2 = read_xml(spark, path, lay, strict=False).collect()
    assert len(got2) == 2


def test_xml_fast_path_matches_etree_forms(spark, tmp_work):
    """The vectorized parse must be bit-identical to etree on entities,
    self-closing tags, attributes, and missing fields."""
    lay = Layout([("k", Integer(8)), ("v", String(20))])
    path = f"{tmp_work}/forms.xml"
    with open(path, "w") as f:
        f.write(
            "<Dataset>"
            "<Row><k>1</k><v>a&amp;b</v></Row>"
            "<Row><k>2</k><v/></Row>"
            "<Row><k>3</k></Row>"
            '<Row k="4" v="attr"></Row>'
            "<Row><k>5</k><v>plain</v></Row>"
            "</Dataset>"
        )
    from h2h_spark import read_xml

    got = {r.k: r.v for r in read_xml(spark, path, lay).collect()}
    assert got == {1: "a&b", 2: "", 3: None, 4: "attr", 5: "plain"}


def test_xml_nested_rowpath_wrappers(spark, tmp_work):
    sup = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    lay = Layout(
        [
            ("s_suppkey", Integer(8)),
            ("s_name", String(32)),
            ("s_nationkey", Integer(4)),
            ("s_acctbal", Real(8)),
        ]
    )
    infos = write_xml(sup, f"{tmp_work}/x", row_path="Dataset/Area/Row")
    head = open(infos[0].path, "rb").read(40)
    assert head.startswith(b"<Dataset><Area>")  # xpath2xml wrapper synthesis
    back = read_xml(spark, f"{tmp_work}/x", lay, row_tag="Dataset/Area/Row",
                    max_partition_bytes=1024)
    assert _as_set(back) == _as_set(sup)


def test_xml_escapes_roundtrip(spark, tmp_work):
    pdf = pd.DataFrame({"k": [1, 2], "v": ["a<b&c>d", "x&amp;y"]})
    df = spark.createDataFrame(pdf)
    lay = Layout([("k", Integer(8)), ("v", String(20))])
    write_xml(df, f"{tmp_work}/esc", row_path="Dataset/Row")
    back = read_xml(spark, f"{tmp_work}/esc", lay)
    assert _as_set(back) == _as_set(df)


def test_xml_malformed_raises(spark, tmp_work):
    path = f"{tmp_work}/bad.xml"
    with open(path, "w") as f:
        f.write("<Dataset><Row><a>1</a></Row><Row><a>2</a>")
    with pytest.raises(Exception, match="unclosed"):
        read_xml(spark, path, Layout([("a", Integer(4))])).count()


def test_xml_strict_gap_at_split_edges(spark, tmp_work):
    """A stray tag between two records raises whichever split owns the
    records on either side of it — also when a split starts inside the
    gap, before its first owned record."""
    rows = [f"<Row><a>{i}</a></Row>\n" for i in range(1, 11)]
    text = "<Dataset>\n" + "".join(rows[:4]) + "<Bogus>x</Bogus>\n" + "".join(rows[4:]) + "</Dataset>"
    assert len(text) == 238
    path = f"{tmp_work}/gap.xml"
    with open(path, "w") as f:
        f.write(text)
    lay = Layout([("a", Integer(4))])
    for mpb in (None, 20):
        with pytest.raises(Exception, match="[Uu]nexpected tag <Bogus>"):
            read_xml(spark, path, lay, max_partition_bytes=mpb).collect()
    got = read_xml(spark, path, lay, max_partition_bytes=20, strict=False).collect()
    assert sorted(r.a for r in got) == list(range(1, 11))


def test_xml_split_planning(spark, tmp_work):
    """Unset, the split size spreads the input over the cores (Spark's
    maxSplitBytes shape); an explicit size is used as given."""
    from h2h_spark.sources.xml import default_split_bytes, plan_xml_splits

    row = "<Row><a>1234567</a></Row>\n"
    big, small = f"{tmp_work}/big.xml", f"{tmp_work}/small.xml"
    with open(big, "w") as f:
        f.write("<Dataset>\n" + row * (5_000_000 // len(row)) + "</Dataset>\n")
    with open(small, "w") as f:
        f.write("<Dataset>\n" + row * 1000 + "</Dataset>\n")
    big_size, small_size = os.path.getsize(big), os.path.getsize(small)
    assert 4_900_000 < big_size < 5_100_000 and small_size < 1 << 20
    # at local[4]
    assert len(plan_xml_splits([big], default_split_bytes(big_size, 4))) == 4
    assert len(plan_xml_splits([small], default_split_bytes(small_size, 4))) == 1
    assert default_split_bytes(10 << 30, 4) == 64 << 20  # the cap
    lay = Layout([("a", Integer(4))])
    cores = spark.sparkContext.defaultParallelism
    df = read_xml(spark, big, lay)
    assert df.rdd.getNumPartitions() == min(cores, 5)  # 1 MiB floor: 5 splits
    assert df.count() == 5_000_000 // len(row)
    assert read_xml(spark, small, lay).rdd.getNumPartitions() == 1
    explicit = read_xml(spark, big, lay, max_partition_bytes=3 << 20)
    assert explicit.rdd.getNumPartitions() == 2


def test_merge_preserves_part_order(spark, tmp_work):
    # rows tagged by partition; merged file must be partition order 0..N-1
    df = spark.range(100).repartition(4).withColumn(
        "pid", F.spark_partition_id()
    )
    write_csv(df.select("id", "pid"), f"{tmp_work}/parts", sep=",")
    merge_parts(f"{tmp_work}/parts", f"{tmp_work}/merged.csv", clean=True)
    assert not os.path.exists(f"{tmp_work}/parts")
    lines = open(f"{tmp_work}/merged.csv").read().strip().split("\n")
    pids = [int(l.split(",")[1]) for l in lines]
    assert pids == sorted(pids)  # non-decreasing = part-index order
    assert len(lines) == 100


def test_write_single_file_and_status(spark, tmp_work):
    cust = _cust(spark)
    target = f"{tmp_work}/single.flat"
    write_single_file(
        cust, target, lambda d, p: write_flat(d, p, CUST_LAYOUT)
    )
    st = file_status(spark, target)
    assert st["type"] == "FILE"
    assert st["length"] == 150 * CUST_LAYOUT.record_length
    back = read_flat(spark, target, CUST_LAYOUT)
    assert back.count() == 150


def test_flat_column_pruning(spark, tmp_work):
    cust = _cust(spark)
    write_flat(cust, f"{tmp_work}/prune", CUST_LAYOUT)
    back = read_flat(spark, f"{tmp_work}/prune", CUST_LAYOUT,
                     columns=["c_name", "c_acctbal"])
    assert back.columns == ["c_name", "c_acctbal"]
    assert back.count() == 150


def test_flat_unsigned8_spark_decimal(spark, tmp_work):
    lay = Layout([("id", Unsigned(8)), ("v", Unsigned(1))])
    pdf = pd.DataFrame({"id": [2**64 - 1, 2**63, 7], "v": [1, 2, 3]})
    import decimal

    lay_bytes = lay.pack(pdf)
    path = f"{tmp_work}/u8.dat"
    with open(path, "wb") as f:
        f.write(lay_bytes)
    back = read_flat(spark, path, lay)
    assert dict(back.dtypes)["id"] == "decimal(20,0)"
    vals = sorted(r["id"] for r in back.collect())
    assert vals == [decimal.Decimal(7), decimal.Decimal(2**63),
                    decimal.Decimal(2**64 - 1)]


def test_flat_latin1_roundtrip(spark, tmp_work):
    """STRINGn is single-byte latin-1: 0xE9 on disk is 'é' in Spark, and
    back."""
    lay = Layout([("k", Integer(4)), ("s", String(6))])
    path = f"{tmp_work}/latin1.dat"
    with open(path, "wb") as f:
        f.write((1).to_bytes(4, "little") + b"caf\xe9  ")
        f.write((2).to_bytes(4, "little") + b"plain\x00")
    back = read_flat(spark, path, lay)
    assert sorted(tuple(r) for r in back.collect()) == [(1, "café"), (2, "plain")]
    write_flat(back.coalesce(1), f"{tmp_work}/latin1_out", lay)
    with open(glob.glob(f"{tmp_work}/latin1_out/part_*")[0], "rb") as f:
        assert f.read() == (
            (1).to_bytes(4, "little") + b"caf\xe9  "
            + (2).to_bytes(4, "little") + b"plain "
        )


def test_flat_nan_real_reads_as_null(spark, tmp_work):
    """FLAT has no null marker: a NaN REAL reads as SQL NULL, and a
    pushed IS NOT NULL drops it."""
    import struct

    lay = Layout([("k", Integer(4)), ("r", Real(8))])
    path = f"{tmp_work}/nan.dat"
    with open(path, "wb") as f:
        f.write(struct.pack("<id", 1, float("nan")) + struct.pack("<id", 2, 2.5))
    df = read_flat(spark, path, lay)
    assert sorted(tuple(r) for r in df.collect()) == [(1, None), (2, 2.5)]
    assert [r.k for r in df.filter(F.col("r").isNotNull()).collect()] == [2]


def test_flat_filter_pushdown(spark, tmp_work):
    """Pushed predicates are evaluated numpy-side (before Arrow transfer)
    and produce exactly the rows Spark's own filter would."""
    cust = _cust(spark)
    write_flat(cust, f"{tmp_work}/fpd", CUST_LAYOUT)
    cond = (F.col("c_acctbal") > 5000) & (F.col("c_mktsegment") == "BUILDING")
    got = read_flat(spark, f"{tmp_work}/fpd", CUST_LAYOUT).filter(cond)
    expected = cust.filter(cond)
    assert _as_set(got) == _as_set(expected)
    # isin + startswith shapes push too
    cond2 = F.col("c_nationkey").isin(1, 2, 3) & F.col("c_name").startswith("Customer#0000001")
    got2 = read_flat(spark, f"{tmp_work}/fpd", CUST_LAYOUT).filter(cond2)
    assert _as_set(got2) == _as_set(cust.filter(cond2))


def test_empty_parts_read_as_empty_frames(spark, tmp_work):
    """A 0-row write still creates its part files (empty for FLAT, header
    and footer only for XML).  Reading them back, or a zero-byte XML or
    quoted-CSV file, gives an empty DataFrame with the declared schema."""
    from h2h_spark.sources.csv_split import read_csv_quoted_splits

    lay = Layout([("k", Integer(8)), ("v", String(6))])
    empty = spark.createDataFrame([], "k long, v string")
    infos = write_flat(empty, f"{tmp_work}/ef", lay)
    assert infos and all(i.n_bytes == 0 for i in infos)
    write_xml(empty, f"{tmp_work}/ex")
    os.makedirs(f"{tmp_work}/ex0")
    open(f"{tmp_work}/ex0/part_0_1.xml", "wb").close()
    open(f"{tmp_work}/e.csv", "wb").close()
    for df in (
        read_flat(spark, f"{tmp_work}/ef", lay),
        read_xml(spark, f"{tmp_work}/ex", lay),
        read_xml(spark, f"{tmp_work}/ex0", lay),
    ):
        assert df.schema == lay.to_struct_type()
        assert df.collect() == []
    csv = read_csv_quoted_splits(spark, f"{tmp_work}/e.csv", _csvq_schema())
    assert csv.schema == _csvq_schema()
    assert csv.collect() == []


def test_flat_misaligned_file_raises_at_read(spark, tmp_work):
    """A part whose size is not a multiple of the record length is refused
    when the read is planned, naming the file, before any job runs."""
    lay = Layout([("k", Integer(8))])
    d = f"{tmp_work}/mis"
    os.makedirs(d)
    with open(f"{d}/part_0_2", "wb") as f:
        f.write(b"\x00" * 16)
    with open(f"{d}/part_1_2", "wb") as f:
        f.write(b"\x00" * 13)
    bad = re.escape(f"{d}/part_1_2")
    with pytest.raises(ValueError, match=f"{bad}: file size 13 is not a multiple"):
        read_flat(spark, d, lay)


def test_scan_splits_rejects_non_str_int_fields(spark):
    """A descriptor field the JVM row cannot carry faithfully (a bool
    reads back as 0, a float or None has no column type) is refused on
    the driver, before any job runs."""
    from typing import NamedTuple

    from h2h_spark.sources.util import scan_splits

    class Split(NamedTuple):
        path: str
        gz: object

    def read(split):
        raise AssertionError("no task may run")

    for bad in (True, 1.5, None):
        with pytest.raises(TypeError, match="gz"):
            scan_splits(spark, [Split("a", 1), Split("b", bad)], read, "x long")
    with pytest.raises(TypeError, match="gz"):
        scan_splits(spark, [Split("a", True), Split("b", False)], read, "x long")


def test_xml_attribute_fields(spark, tmp_work):
    """ECL-style XML with fields as attributes on the row tag — the reader
    falls back to attributes when no child element matches."""
    path = f"{tmp_work}/attr.xml"
    with open(path, "w") as f:
        f.write("<Dataset>")
        f.write('<Row k="1"><v>alpha</v></Row>')
        f.write('<Row k="2"><v>beta</v></Row>')
        f.write("</Dataset>")
    lay = Layout([("k", Integer(4)), ("v", String(10))])
    got = {r.k: r.v for r in read_xml(spark, path, lay).collect()}
    assert got == {1: "alpha", 2: "beta"}


def test_merge_order_with_more_than_ten_parts(spark, tmp_work):
    """part_10_12 must merge AFTER part_2_12 — numeric index order, not
    lexicographic (the h2h naming is not zero-padded)."""
    df = spark.range(120).repartition(12).withColumn("pid", F.spark_partition_id())
    lay = Layout([("id", Integer(8)), ("pid", Integer(4))])
    infos = write_flat(df.select("id", "pid"), f"{tmp_work}/p12", lay)
    assert len(infos) == 12
    merge_parts(f"{tmp_work}/p12", f"{tmp_work}/m12.flat")
    back = lay.unpack(open(f"{tmp_work}/m12.flat", "rb").read())
    pids = back["pid"].tolist()
    assert pids == sorted(pids)  # strictly non-decreasing partition ids
    assert len(pids) == 120


def test_csv_null_vs_empty_string(spark, tmp_work):
    """ECL strings have no null: empty fields round trip as empty strings;
    genuine SQL nulls survive via the \\N sentinel."""
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x")], "k long, v string"
    )
    lay = Layout([("k", Integer(8)), ("v", String(5))])
    write_csv(df, f"{tmp_work}/nulls", sep=",", quote="'")
    back = {r.k: r.v for r in
            read_csv(spark, f"{tmp_work}/nulls", lay, sep=",", quote="'").collect()}
    assert back[1] == ""
    assert back[2] is None
    assert back[3] == "x"


def test_csv_null_vs_empty_multichar_terminator(spark, tmp_work):
    """The custom-terminator (to_csv/from_csv) path honors the same
    empty-vs-null contract as the newline path (ADVICE r1)."""
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x")], "k long, v string"
    )
    lay = Layout([("k", Integer(8)), ("v", String(5))])
    write_csv(df, f"{tmp_work}/mcnulls", sep=",", terminator="@@", quote="'")
    back = {r.k: r.v for r in
            read_csv(spark, f"{tmp_work}/mcnulls", lay, sep=",",
                     terminator="@@", quote="'").collect()}
    assert back[1] == ""
    assert back[2] is None
    assert back[3] == "x"


def test_csv_max_len_record_guard(spark, tmp_work):
    """Per-record runaway guard on the custom-terminator path: a record
    with no terminator within maxLen*10 bytes fails the scan
    (libhdfsconnector.cpp:533-537 parity)."""
    import pytest

    lay = Layout([("k", Integer(8)), ("v", String(64))])
    path = f"{tmp_work}/runaway.csv"
    with open(path, "w") as f:
        f.write("1,ok@@2," + "x" * 500 + "@@")  # second record blows the cap
    with pytest.raises(Exception, match="maxLen"):
        read_csv(spark, path, lay, sep=",", terminator="@@", max_len=20).collect()
    # within the cap, the same file parses
    ok = read_csv(spark, path, lay, sep=",", terminator="@@", max_len=200)
    assert ok.count() == 2


def test_csv_output_terminator_zero(spark, tmp_work):
    """-outputterminator 0 (hdfsconnector.hpp:365-368): records are
    concatenated with NO terminator re-emission."""
    import glob

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1)
    write_csv(df, f"{tmp_work}/noterm", sep=",", terminator="@@",
              terminate_records=False)
    parts = sorted(glob.glob(f"{tmp_work}/noterm/part_*"))
    assert parts, "partition sink wrote no part files"
    data = b"".join(open(p, "rb").read() for p in parts)
    assert b"@@" not in data
    assert data in (b"1,a2,b", b"2,b1,a")


def test_csv_unicode_roundtrip(spark, tmp_work):
    df = spark.createDataFrame(
        [(1, "héllo wörld"), (2, "日本語テキスト"), (3, "emoji 🎉 ok")],
        "k long, v string",
    )
    lay = Layout([("k", Integer(8)), ("v", String(40))])
    write_csv(df, f"{tmp_work}/uni", sep="|", quote="'")
    back = read_csv(spark, f"{tmp_work}/uni", lay, sep="|", quote="'")
    assert _as_set(back) == _as_set(df)


def test_flat_packed_decimal_spark_roundtrip(spark, tmp_work):
    from h2h_spark import PackedDecimal
    import decimal

    lay = Layout([("k", Integer(8)), ("amt", PackedDecimal(11, 2))])
    src = spark.sql(
        "SELECT CAST(1 AS BIGINT) AS k, CAST(123456789.01 AS DECIMAL(11,2)) AS amt "
        "UNION ALL SELECT 2, CAST(-0.99 AS DECIMAL(11,2))"
    )
    write_flat(src, f"{tmp_work}/bcd", lay)
    back = {r.k: r.amt for r in read_flat(spark, f"{tmp_work}/bcd", lay).collect()}
    assert back[1] == decimal.Decimal("123456789.01")
    assert back[2] == decimal.Decimal("-0.99")
    assert dict(read_flat(spark, f"{tmp_work}/bcd", lay).dtypes)["amt"] == "decimal(11,2)"


# ---------------- quote-parity CSV split scanner -----------------------


def _quoted_csv(rows, quote="'", term="\n"):
    def q(s):
        return quote + s.replace(quote, quote * 2) + quote
    return "".join(f"{i},{q(b)}{term}" for i, b in rows)


def _csvq_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("body", T.StringType())]
    )


def _csvq_read(spark, path, mpb, term="\n"):
    from h2h_spark.sources.csv_split import read_csv_quoted_splits

    df = read_csv_quoted_splits(
        spark, path, _csvq_schema(), sep=",", terminator=term, quote="'",
        max_partition_bytes=mpb,
    )
    return sorted((r.id, r.body) for r in df.collect())


def test_csvq_embedded_terminators_many_splits(spark, tmp_work):
    """Records with quoted newlines parse exactly at 64-byte splits —
    the capability multiLine mode trades away (one task per file)."""
    import random

    random.seed(11)
    rows = [
        (i, "".join(random.choice("ab\nc''x,") for _ in range(random.randint(0, 10))))
        for i in range(300)
    ]
    p = f"{tmp_work}/q.csv"
    open(p, "w").write(_quoted_csv(rows))
    for mpb in (64, 1024):
        assert _csvq_read(spark, p, mpb) == sorted(rows)


def test_csvq_boundary_exactly_on_record_edge(spark, tmp_work):
    """Split edges landing exactly on record boundaries must neither drop
    nor duplicate the boundary record (Hadoop ownership convention)."""
    rows = [(i, f"v{i}\nx") for i in range(50)]
    text = _quoted_csv(rows)
    p = f"{tmp_work}/edge.csv"
    open(p, "w").write(text)
    # every record is the same width -> force splits on exact boundaries
    rec_len = len(text) // 50
    for mpb in (rec_len, rec_len * 2, rec_len * 3 + 1):
        assert _csvq_read(spark, p, mpb) == sorted(rows)


def test_csvq_trailing_record_no_terminator(spark, tmp_work):
    rows = [(1, "a\nb"), (2, "c")]
    text = _quoted_csv(rows).rstrip("\n")  # last record unterminated
    p = f"{tmp_work}/trail.csv"
    open(p, "w").write(text)
    assert _csvq_read(spark, p, 8) == sorted(rows)


def test_csvq_split_starts_inside_quoted_field(spark, tmp_work):
    """A long quoted field spanning MANY whole splits: the parity pass
    gives those splits starting parity 1, so the embedded terminators in
    them cannot be mistaken for record boundaries.  (The reference's
    parity-from-split-start heuristic would misalign here.)"""
    big = ("line\n" * 200).rstrip("\n")  # ~1000 bytes of quoted newlines
    rows = [(1, "small"), (2, big), (3, "tail")]
    p = f"{tmp_work}/inq.csv"
    open(p, "w").write(_quoted_csv(rows))
    assert _csvq_read(spark, p, 64) == sorted(rows)


def test_csvq_multichar_terminator_crlf(spark, tmp_work):
    """\\r\\n terminator (no self-overlap) with quoted embedded \\r\\n and
    lone \\n in fields, at splits small enough that terminators straddle
    split edges."""
    rows = [(1, "a\r\nb"), (2, "c'd\n"), (3, ""), (4, "x" * 40), (5, "\r")]
    p = f"{tmp_work}/mt.csv"
    open(p, "w", newline="").write(_quoted_csv(rows, term="\r\n"))
    for mpb in (8, 16, 64):
        assert _csvq_read(spark, p, mpb, term="\r\n") == sorted(rows)


def test_csvq_self_overlapping_terminator_rejected(spark, tmp_work):
    """'~~' overlaps itself -> split-local alignment is ambiguous; the
    API refuses instead of silently misparsing."""
    from h2h_spark.sources.csv_split import check_terminator, read_csv_quoted_splits

    with pytest.raises(ValueError, match="overlaps itself"):
        check_terminator("~~")
    check_terminator("\r\n")  # prefix != suffix: fine
    p = f"{tmp_work}/ov.csv"
    open(p, "w").write("1,'a'~~")
    with pytest.raises(ValueError, match="overlaps itself"):
        read_csv_quoted_splits(spark, p, _csvq_schema(), terminator="~~")


def test_csvq_quote_free_file_plain_semantics(spark, tmp_work):
    """No quotes at all: parity stays 0 everywhere and the scan reduces to
    LineRecordReader split ownership."""
    rows = [(i, f"plain{i}") for i in range(100)]
    p = f"{tmp_work}/plain.csv"
    open(p, "w").write("".join(f"{i},{b}\n" for i, b in rows))
    assert _csvq_read(spark, p, 32) == sorted(rows)


def test_csvq_parity_pass_values(spark, tmp_work):
    from h2h_spark.sources.csv_split import byte_ranges, quote_parities

    p = f"{tmp_work}/par.csv"
    open(p, "w").write("a,'x\n'\n" * 8)  # 2 quotes per 7-byte record
    pars = quote_parities(spark, [p], 4, "'")[p]
    assert len(pars) == len(byte_ranges(56, 4))
    assert pars[0] == 0 and set(pars) <= {0, 1} and 1 in pars


def test_csvq_buffer_extension_during_skip_and_scan():
    """Force read_chunk smaller than records so every boundary search
    crosses buffer extensions: parity accounting must not double-count
    quotes on rescan (the skip-first loop), and a multi-char terminator
    straddling a buffer edge must still match."""
    from h2h_spark.sources.csv_split import _scan_records, byte_ranges, quote_parities

    rows = [(i, "q'" * (i % 5) + "body\n" * (i % 3)) for i in range(40)]

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    for term in ("\n", "\r\n"):
        text = "".join(f"{i},{q(b)}{term}" for i, b in rows).encode()
        # compute parities per range exactly as the pass-1 job would
        for mpb in (16, 37, 64):
            ranges = byte_ranges(len(text), mpb)
            pars, p = [], 0
            for (s, e) in ranges:
                pars.append(p)
                p ^= text[s:e].count(b"'") & 1
            import tempfile, os as _os
            fd, path = tempfile.mkstemp()
            _os.write(fd, text)
            _os.close(fd)
            got = []
            try:
                for (s, e), par in zip(ranges, pars):
                    got.extend(
                        _scan_records(
                            path, s, e, par, term.encode(), b"'", read_chunk=7
                        )
                    )
            finally:
                _os.unlink(path)
            expect = [f"{i},{q(b)}".encode() for i, b in rows]
            assert got == expect, (term, mpb)


# ---------------------------------------------------------------------------
# Avro OCF source
# ---------------------------------------------------------------------------


def test_avro_roundtrip_nulls_and_tiny_splits(spark, tmp_work):
    from h2h_spark.sources.avro import read_avro, write_avro
    from pyspark.sql import functions as F

    df = spark.range(0, 500).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 0, None).otherwise(
            F.concat(F.lit("name_"), F.col("id"))
        ).alias("name"),
        F.when(F.col("id") % 11 == 0, None).otherwise(
            (F.col("id") * 1.5)
        ).alias("score"),
        (F.col("id") % 2 == 0).alias("flag"),
    )
    path = f"{tmp_work}/avro_nulls"
    write_avro(df, path, codec="deflate", rows_per_block=37)
    back = read_avro(spark, path, max_partition_bytes=2048)
    a = sorted(tuple(r) for r in back.collect())
    b = sorted(tuple(r) for r in df.collect())
    assert a == b


def test_avro_single_vs_many_splits_identical(spark, tmp_work):
    from h2h_spark.sources.avro import read_avro, write_avro
    from pyspark.sql import functions as F

    df = spark.range(0, 300).select(
        F.col("id"), F.concat(F.lit("x" * 50), F.col("id")).alias("pad")
    ).coalesce(1)
    path = f"{tmp_work}/avro_splits"
    write_avro(df, path, codec="null", rows_per_block=13)
    whole = sorted(tuple(r) for r in read_avro(spark, path).collect())
    tiny = sorted(
        tuple(r) for r in read_avro(spark, path, max_partition_bytes=512).collect()
    )
    assert whole == tiny and len(whole) == 300


def test_avro_error_paths(spark, tmp_work):
    import pytest
    from pyspark.sql import functions as F

    from h2h_spark.sources.avro import avro_schema_for, write_avro, _parse_header

    with pytest.raises(ValueError, match="not an Avro"):
        _parse_header(b"PAR1xxxxxxxxxxxxxxxxx")
    # arrays/maps/records are supported now; decimals still are not
    df = spark.range(3).select(
        F.col("id"), F.col("id").cast("decimal(10,2)").alias("d")
    )
    with pytest.raises(ValueError, match="supports long/double"):
        avro_schema_for(df.schema)
    # an untyped (NullType) array element is loud, not guessed
    df2 = spark.range(3).select(F.array(F.lit(None)).alias("arr"))
    with pytest.raises(ValueError, match="NullType"):
        avro_schema_for(df2.schema)
    with pytest.raises(ValueError, match="codec"):
        write_avro(spark.range(3), f"{tmp_work}/x", codec="snappy")


def test_avro_empty_dataframe_roundtrip(spark, tmp_work):
    from h2h_spark.sources.avro import read_avro, write_avro

    empty = spark.createDataFrame([], "k long, v double")
    path = f"{tmp_work}/avro_empty"
    write_avro(empty, path)
    back = read_avro(spark, path)
    assert back.count() == 0
    assert back.schema.simpleString() == "struct<k:bigint,v:double>"


def test_avro_header_larger_than_probe(spark, tmp_work):
    """A wide record's schema JSON exceeds the 4 KiB header probe; the
    scanner must grow its buffer and parse, not die on IndexError."""
    from pyspark.sql import functions as F

    from h2h_spark.sources.avro import read_avro, write_avro

    cols = [
        (F.col("id") + i).alias(f"extremely_verbose_column_name_{i:04d}")
        for i in range(160)
    ]
    df = spark.range(7).select(*cols)
    path = f"{tmp_work}/avro_wide"
    write_avro(df, path, codec="null", rows_per_block=3)
    back = read_avro(spark, path)
    assert back.count() == 7
    assert len(back.columns) == 160
    got = sorted(r["extremely_verbose_column_name_0003"] for r in back.collect())
    assert got == [3, 4, 5, 6, 7, 8, 9]


def test_avro_nested_roundtrip(spark, tmp_work):
    """Nested records / arrays / string-keyed maps / bytes survive the
    OCF roundtrip across multi-block, multi-split deflate reads."""
    from pyspark.sql import functions as F

    from h2h_spark.sources.avro import read_avro, write_avro

    df = spark.range(50).select(
        F.col("id"),
        F.struct(
            F.concat(F.lit("f"), F.col("id")).alias("file_path"),
            (F.col("id") * 3).alias("record_count"),
            (F.col("id") % 2 == 0).alias("valid"),
        ).alias("data_file"),
        F.sequence(F.lit(0), F.col("id") % 4).alias("nums"),
        F.create_map(F.lit("lo"), F.col("id"),
                     F.lit("hi"), F.col("id") * 2).alias("bounds"),
        F.encode(F.concat(F.lit("b"), F.col("id")), "utf-8").alias("blob"),
    )
    path = f"{tmp_work}/avro_nested"
    write_avro(df, path, codec="deflate", rows_per_block=7)
    back = read_avro(spark, path, max_partition_bytes=512)
    rows = {r.id: r for r in back.collect()}
    assert len(rows) == 50
    r = rows[9]
    assert r.data_file.file_path == "f9"
    assert r.data_file.record_count == 27 and r.data_file.valid is False
    assert list(r.nums) == [0, 1]
    assert dict(r.bounds) == {"lo": 9, "hi": 18}
    assert bytes(r.blob) == b"b9"


def test_avro_nullable_map_values_and_elements(spark, tmp_work):
    """Spark's default map<_, nullable> / array<nullable> shapes encode
    as ["null", T] unions and roundtrip with the nulls intact."""
    from pyspark.sql import functions as F

    from h2h_spark.sources.avro import read_avro, write_avro

    df = spark.range(6).select(
        F.col("id"),
        F.create_map(
            F.lit("a"), F.col("id"),
            F.lit("b"), F.when(F.col("id") % 2 == 0, F.col("id")),
        ).alias("m"),
        F.array(
            F.col("id"), F.when(F.col("id") % 3 == 0, F.col("id"))
        ).alias("arr"),
    )
    path = f"{tmp_work}/avro_null_vals"
    write_avro(df, path)
    back = {r.id: r for r in read_avro(spark, path).collect()}
    assert dict(back[3].m) == {"a": 3, "b": None}
    assert dict(back[4].m) == {"a": 4, "b": 4}
    assert list(back[5].arr) == [5, None]
    assert list(back[3].arr) == [3, 3]
