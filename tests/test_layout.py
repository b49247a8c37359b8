"""Layout DSL: pack/unpack golden + property tests (SURVEY.md §5.3)."""
import decimal

import numpy as np
import pandas as pd
import pytest

from h2h_spark.layout import Boolean, Data, Integer, Layout, Real, String, Unsigned
from h2h_spark.plans import part_layout, record_count

# FIXTURES.md F1: persons_flat, 46-byte record
PERSONS = Layout(
    [
        ("fname", String(10)),
        ("lname", String(10)),
        ("prange", Unsigned(1)),
        ("street", String(10)),
        ("zips", Unsigned(1)),
        ("age", Unsigned(1)),
        ("birth_state", String(2)),
        ("birth_month", String(3)),
        ("one", Unsigned(1)),
        ("id", Unsigned(8)),
    ]
)


def test_record_length_f1():
    # FIXTURES.md quotes 46, but the documented F1 fields sum to 47:
    # 10+10+1+10+1+1+2+3+1+8 (the fixture doc's arithmetic is off by one).
    assert PERSONS.record_length == 47


def test_pack_unpack_roundtrip_f1():
    pdf = pd.DataFrame(
        {
            "fname": ["ALICE", "BOB"],
            "lname": ["SMITH", "JONES"],
            "prange": [0, 255],
            "street": ["MAIN ST", "2ND AVE"],
            "zips": [1, 200],
            "age": [0, 120],
            "birth_state": ["CA", "NY"],
            "birth_month": ["JAN", "DEC"],
            "one": [1, 1],
            "id": [2**64 - 1, 12345],  # > 2^63-1 forces unsigned handling
        }
    )
    data = PERSONS.pack(pdf)
    assert len(data) == 94
    back = PERSONS.unpack(data)
    assert back["fname"].tolist() == ["ALICE", "BOB"]
    assert back["prange"].tolist() == [0, 255]
    assert back["id"].tolist() == [decimal.Decimal(2**64 - 1), decimal.Decimal(12345)]


def test_string_pad_truncate():
    lay = Layout([("s", String(4))])
    data = lay.pack(pd.DataFrame({"s": ["ab", "abcdef"]}))
    assert data == b"ab  abcd"
    back = lay.unpack(data)
    assert back["s"].tolist() == ["ab", "abcd"]


def test_odd_width_ints():
    lay = Layout([("u3", Unsigned(3)), ("i5", Integer(5))])
    assert lay.record_length == 8
    pdf = pd.DataFrame({"u3": [0, 2**24 - 1, 5], "i5": [-(2**39), 2**39 - 1, -1]})
    back = lay.unpack(lay.pack(pdf))
    assert back["u3"].tolist() == [0, 2**24 - 1, 5]
    assert back["i5"].tolist() == [-(2**39), 2**39 - 1, -1]


def test_real_boolean_data():
    lay = Layout([("r4", Real(4)), ("r8", Real(8)), ("b", Boolean()), ("d", Data(3))])
    pdf = pd.DataFrame(
        {"r4": [1.5, -2.25], "r8": [3.14159, 0.0], "b": [True, False],
         "d": [b"\x01\x02\x03", b"\xff"]}
    )
    back = lay.unpack(lay.pack(pdf))
    assert back["r4"].tolist() == [np.float32(1.5), np.float32(-2.25)]
    assert back["r8"].tolist() == [3.14159, 0.0]
    assert back["b"].tolist() == [True, False]
    assert back["d"].tolist() == [b"\x01\x02\x03", b"\xff\x00\x00"]


def test_misaligned_raises():
    with pytest.raises(ValueError, match="not a multiple"):
        PERSONS.unpack(b"x" * 45)


def test_overflow_raises():
    with pytest.raises(OverflowError):
        Layout([("v", Unsigned(2))]).pack(pd.DataFrame({"v": [70000]}))


def test_projection_offsets():
    sub = PERSONS.project(["age", "id"])
    assert sub.record_length == 47  # strides whole records
    pdf = pd.DataFrame(
        {
            "fname": ["X"], "lname": ["Y"], "prange": [9], "street": ["Z"],
            "zips": [2], "age": [33], "birth_state": ["TX"],
            "birth_month": ["FEB"], "one": [1], "id": [777],
        }
    )
    back = sub.unpack(PERSONS.pack(pdf))
    assert list(back.columns) == ["age", "id"]
    assert back["age"].tolist() == [33]


def test_record_count_rule():
    # 1001 records over 8 nodes: first (1001 % 8) = 1 node gets the extra
    counts = [record_count(1001 * 46, 8, 46, i) for i in range(8)]
    assert counts == [126, 125, 125, 125, 125, 125, 125, 125]
    assert sum(counts) == 1001
    with pytest.raises(ValueError):
        record_count(100, 4, 46, 0)


def test_part_layout():
    assert part_layout(10, 4) == [(0, 3), (1, 3), (2, 2), (3, 2)]


def test_packed_decimal_roundtrip():
    from h2h_spark.layout import PackedDecimal

    lay = Layout([("amt", PackedDecimal(9, 2)), ("qty", PackedDecimal(5, 0))])
    assert lay.record_length == (9 + 2) // 2 + (5 + 2) // 2  # 5 + 3 bytes
    pdf = pd.DataFrame(
        {
            "amt": [decimal.Decimal("1234567.89"), decimal.Decimal("-0.01"),
                    decimal.Decimal("0")],
            "qty": [99999, -12345, 0],
        }
    )
    back = lay.unpack(lay.pack(pdf))
    assert back["amt"].tolist() == [
        decimal.Decimal("1234567.89"), decimal.Decimal("-0.01"),
        decimal.Decimal("0.00"),
    ]
    assert back["qty"].tolist() == [
        decimal.Decimal("99999"), decimal.Decimal("-12345"), decimal.Decimal("0")
    ]


def test_packed_decimal_overflow_and_wide():
    from h2h_spark.layout import PackedDecimal

    with pytest.raises(OverflowError):
        Layout([("x", PackedDecimal(3, 0))]).pack(pd.DataFrame({"x": [1000]}))
    # an even digit count leaves a spare nibble: 99999 in DECIMAL4 is corrupt
    with pytest.raises(ValueError, match="exceeds"):
        Layout([("x", PackedDecimal(4, 0))]).unpack(bytes([0x99, 0x99, 0x9C]))
    # > 18 digits takes the object path
    lay = Layout([("big", PackedDecimal(24, 4))])
    v = decimal.Decimal("12345678901234567890.1234")
    back = lay.unpack(lay.pack(pd.DataFrame({"big": [v, -v]})))
    assert back["big"].tolist() == [v, -v]

