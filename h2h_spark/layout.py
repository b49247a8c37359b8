"""ECL-style declared record layouts.

The reference engine is schema-on-read with a *fixed, user-declared* schema:
an ECL ``RECORD`` structure passed as the ``Layout`` macro parameter, from
which the compiler derives the fixed record length (``sizeof(Layout)``,
``ecl/HDFSConnector.ecl:140``) used by the FLAT scan, or the max record
length for CSV (``sizeof(Layout, MAX)``, line 113).  This module is the
Spark-side equivalent: a :class:`Layout` compiles to

- a :class:`pyspark.sql.types.StructType` (the DataFrame schema),
- a fixed ``record_length`` in bytes (FLAT framing),
- an Arrow codec (:meth:`Layout.decode` / :meth:`Layout.encode`) between
  whole-record bytes and Arrow record batches, vectorized through a numpy
  structured dtype and ``pyarrow.compute``.

Type surface (documented ECL types, ``docs/.../HDFS_PipeIn.xml:88-126``):

- ``String(n)``  — STRINGn: fixed-width, space-padded, truncating,
  single-byte latin-1.
- ``Unsigned(n)``— UNSIGNEDn, n in 1..8, little-endian.  UNSIGNED8 maps to
  ``DecimalType(20, 0)`` because the full unsigned 64-bit range does not fit
  ``LongType`` (SURVEY.md §4.3.8); smaller widths widen to the next signed
  Spark integral type.
- ``Integer(n)`` — INTEGERn, signed little-endian.
- ``Real(n)``    — REAL4/REAL8 → Float/Double (IEEE754 little-endian).
- ``Boolean()``  — 1 byte, 0 = false.
- ``Data(n)``    — raw fixed-width bytes → BinaryType.

Odd integer widths (3, 5, 6, 7 bytes) are legal ECL and supported here via
byte-matrix recomposition (no native numpy dtype exists for them).
"""

from __future__ import annotations

import decimal
import json
from dataclasses import dataclass
from typing import Iterable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_STD_WIDTHS = {1, 2, 4, 8}


@dataclass(frozen=True)
class FieldType:
    """Base class for layout field types."""

    nbytes: int

    kind: str = "base"

    def spark_type(self) -> T.DataType:
        raise NotImplementedError

    def to_spec(self) -> dict:
        return {"kind": self.kind, "nbytes": self.nbytes}


class String(FieldType):
    """STRINGn — fixed-width, space-padded, right-truncated on overflow;
    one latin-1 byte per character."""

    def __init__(self, nbytes: int):
        if nbytes < 1:
            raise ValueError("String width must be >= 1")
        super().__init__(nbytes=nbytes, kind="string")

    def spark_type(self) -> T.DataType:
        return T.StringType()


class Unsigned(FieldType):
    """UNSIGNEDn, little-endian, n in 1..8."""

    def __init__(self, nbytes: int):
        if not 1 <= nbytes <= 8:
            raise ValueError("Unsigned width must be in 1..8")
        super().__init__(nbytes=nbytes, kind="unsigned")

    def spark_type(self) -> T.DataType:
        # Widen so every unsigned value fits a signed Spark type.
        if self.nbytes == 1:
            return T.ShortType()
        if self.nbytes == 2:
            return T.IntegerType()
        if self.nbytes <= 7:
            return T.LongType()
        return T.DecimalType(20, 0)  # full u64 range exceeds LongType


class Integer(FieldType):
    """INTEGERn, signed little-endian, n in 1..8."""

    def __init__(self, nbytes: int):
        if not 1 <= nbytes <= 8:
            raise ValueError("Integer width must be in 1..8")
        super().__init__(nbytes=nbytes, kind="integer")

    def spark_type(self) -> T.DataType:
        if self.nbytes == 1:
            return T.ByteType()
        if self.nbytes == 2:
            return T.ShortType()
        if self.nbytes <= 4:
            return T.IntegerType()
        return T.LongType()


class Real(FieldType):
    """REAL4 / REAL8 — IEEE754 little-endian."""

    def __init__(self, nbytes: int = 8):
        if nbytes not in (4, 8):
            raise ValueError("Real width must be 4 or 8")
        super().__init__(nbytes=nbytes, kind="real")

    def spark_type(self) -> T.DataType:
        return T.FloatType() if self.nbytes == 4 else T.DoubleType()


class Boolean(FieldType):
    """BOOLEAN — one byte, nonzero = true."""

    def __init__(self):
        super().__init__(nbytes=1, kind="boolean")

    def spark_type(self) -> T.DataType:
        return T.BooleanType()


class Data(FieldType):
    """DATA n — raw fixed-width bytes."""

    def __init__(self, nbytes: int):
        if nbytes < 1:
            raise ValueError("Data width must be >= 1")
        super().__init__(nbytes=nbytes, kind="data")

    def spark_type(self) -> T.DataType:
        return T.BinaryType()


class PackedDecimal(FieldType):
    """DECIMALn.m — packed BCD, IBM convention (two digits per byte, final
    low nibble is the sign: 0xC positive, 0xD negative), most significant
    digit first.  Width = ceil((digits+1)/2) bytes.

    ECL's general type surface includes DECIMALn.m (SURVEY.md §1.3); the
    connector itself never decodes fields, so the byte convention is this
    engine's documented choice.  Maps to ``DecimalType(digits, scale)``.
    """

    def __init__(self, digits: int, scale: int = 0):
        if not 1 <= digits <= 38:
            raise ValueError("PackedDecimal digits must be in 1..38")
        if not 0 <= scale <= digits:
            raise ValueError("scale must be in 0..digits")
        super().__init__(nbytes=(digits + 2) // 2, kind="decimal")
        object.__setattr__(self, "digits", digits)
        object.__setattr__(self, "scale", scale)

    def spark_type(self) -> T.DataType:
        return T.DecimalType(self.digits, self.scale)

    def to_spec(self) -> dict:
        return {
            "kind": self.kind,
            "nbytes": self.nbytes,
            "digits": self.digits,
            "scale": self.scale,
        }


_KIND_TO_CLS = {
    "string": String,
    "unsigned": Unsigned,
    "integer": Integer,
    "real": Real,
    "boolean": Boolean,
    "data": Data,
}


def _field_from_spec(spec: dict) -> FieldType:
    kind = spec["kind"]
    if kind == "decimal":
        return PackedDecimal(spec["digits"], spec["scale"])
    cls = _KIND_TO_CLS[kind]
    if kind == "boolean":
        return cls()
    return cls(spec["nbytes"])


class Layout:
    """An ordered list of ``(name, FieldType)`` — the ECL RECORD analogue.

    ``record_length`` ≅ ``sizeof(Layout)`` (``ecl/HDFSConnector.ecl:140``).
    FLAT records carry no null marker, so a NaN REAL decodes as SQL NULL.
    """

    def __init__(self, fields: Iterable[tuple[str, FieldType]]):
        self.fields: list[tuple[str, FieldType]] = list(fields)
        if not self.fields:
            raise ValueError("Layout needs at least one field")
        names = [n for n, _ in self.fields]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate field names in layout: {names}")
        self.record_length: int = sum(ft.nbytes for _, ft in self.fields)
        self._offsets: dict[str, int] = {}
        off = 0
        for name, ft in self.fields:
            self._offsets[name] = off
            off += ft.nbytes

    # ---------------------------------------------------------------- schema

    def names(self) -> list[str]:
        return [n for n, _ in self.fields]

    def field(self, name: str) -> FieldType:
        for n, ft in self.fields:
            if n == name:
                return ft
        raise KeyError(name)

    def to_struct_type(self, columns: Sequence[str] | None = None) -> T.StructType:
        cols = set(columns) if columns is not None else None
        return T.StructType(
            [
                T.StructField(n, ft.spark_type(), True)
                for n, ft in self.fields
                if cols is None or n in cols
            ]
        )

    def project(self, columns: Sequence[str]) -> "Layout":
        """Sub-layout preserving byte offsets — used for pruned FLAT reads."""
        missing = [c for c in columns if c not in self._offsets]
        if missing:
            raise KeyError(f"unknown columns: {missing}")
        sub = Layout([(n, ft) for n, ft in self.fields if n in set(columns)])
        # Keep the parent's offsets and record length so the numpy dtype
        # still walks full-width records while decoding only what's needed.
        sub._offsets = {n: self._offsets[n] for n in sub.names()}
        sub.record_length = self.record_length
        return sub

    # ------------------------------------------------------------- serialize

    def to_json(self) -> str:
        return json.dumps(
            {
                "fields": [
                    {"name": n, **ft.to_spec()} for n, ft in self.fields
                ],
                "record_length": self.record_length,
                "offsets": self._offsets,
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "Layout":
        spec = json.loads(s)
        lay = cls([(f["name"], _field_from_spec(f)) for f in spec["fields"]])
        if "offsets" in spec:
            lay._offsets = {k: int(v) for k, v in spec["offsets"].items()}
            lay.record_length = int(spec["record_length"])
        return lay

    # ----------------------------------------------------------- Arrow codec

    def arrow_schema(self) -> pa.Schema:
        """Schema of the batches :meth:`decode` returns — the Arrow form
        of :meth:`to_struct_type`, so Spark takes them without a cast."""
        return to_arrow_schema(self.to_struct_type())

    def _np_dtype(self) -> np.dtype:
        """Structured dtype with explicit offsets over the full record.

        Explicit offsets make column pruning free: a projected layout keeps
        the parent record_length, so the dtype steps over unread bytes —
        CPU is only spent on requested fields.
        """
        names, formats, offsets = [], [], []
        for name, ft in self.fields:
            names.append(name)
            offsets.append(self._offsets[name])
            if ft.kind == "string":
                formats.append(f"S{ft.nbytes}")
            elif ft.kind in ("data", "decimal"):
                # V (void), not S: numpy S-dtype strips trailing NULs, but
                # DATA/BCD are exact raw bytes.
                formats.append(f"V{ft.nbytes}")
            elif ft.kind == "boolean":
                formats.append("<u1")
            elif ft.kind in ("unsigned", "integer"):
                if ft.nbytes in _STD_WIDTHS:
                    sign = "u" if ft.kind == "unsigned" else "i"
                    formats.append(f"<{sign}{ft.nbytes}")
                else:
                    formats.append(f"V{ft.nbytes}")  # odd width — recompose
            elif ft.kind == "real":
                formats.append(f"<f{ft.nbytes}")
            else:  # pragma: no cover
                raise ValueError(ft.kind)
        return np.dtype(
            {
                "names": names,
                "formats": formats,
                "offsets": offsets,
                "itemsize": self.record_length,
            }
        )

    def decode(self, data: bytes | memoryview) -> pa.RecordBatch:
        """Vectorized fixed-width decode of whole-record bytes → Arrow.

        Each column is built from the numpy structured view of ``data``.
        No value passes through Python except in STRING columns holding a
        byte >= 0x80 (latin-1 is transcoded value by value), DATA columns
        and packed decimals wider than 18 digits.

        Enforces the reference's hard error on misaligned files
        (``libhdfsconnector.cpp:84-89``): len(data) must be a multiple of
        record_length.
        """
        nb = len(data)
        if nb % self.record_length != 0:
            raise ValueError(
                f"byte length {nb} is not a multiple of record length "
                f"{self.record_length} (reference semantics: hard error, "
                "libhdfsconnector.cpp:84-89)"
            )
        arr = np.frombuffer(data, dtype=self._np_dtype())
        schema = self.arrow_schema()
        return pa.RecordBatch.from_arrays(
            [
                _decode_field(arr[name], ft, schema.field(name).type)
                for name, ft in self.fields
            ],
            schema=schema,
        )

    def encode(self, batch: pa.RecordBatch) -> bytes:
        """Vectorized fixed-width encode Arrow → record bytes.

        Strings are right-truncated and space-padded to their declared
        width (ECL STRINGn semantics) and written as latin-1; a character
        outside latin-1 raises ``UnicodeEncodeError``.  A null STRING,
        DATA, BOOLEAN or REAL writes spaces, zero bytes, false or NaN.
        Integers must fit their declared width — overflow raises
        ``OverflowError`` (the reference would silently corrupt; we do
        not) — and a null integer or decimal raises ``ValueError``.
        """
        buf = np.zeros(batch.num_rows, dtype=self._np_dtype_packed())
        for name, ft in self.fields:
            buf[name] = _encode_field(batch.column(name), ft)
        return buf.tobytes()

    def unpack(self, data: bytes | memoryview) -> pd.DataFrame:
        """:meth:`decode` as a pandas DataFrame."""
        return self.decode(data).to_pandas()

    def pack(self, pdf: pd.DataFrame) -> bytes:
        """:meth:`encode` of a pandas DataFrame (extra columns ignored)."""
        return self.encode(
            pa.RecordBatch.from_pandas(pdf, columns=self.names(), preserve_index=False)
        )

    def _np_dtype_packed(self) -> np.dtype:
        """Dtype for packing — identical to the read dtype but must cover the
        whole record contiguously (pack never projects)."""
        if self.record_length != sum(ft.nbytes for _, ft in self.fields):
            raise ValueError("cannot pack through a projected layout")
        return self._np_dtype()

    def __repr__(self) -> str:
        inner = ", ".join(f"{n}:{ft.kind}{ft.nbytes}" for n, ft in self.fields)
        return f"Layout({inner}; reclen={self.record_length})"


# ------------------------------------------------------------ field codecs


def _fixed_binary(col: np.ndarray, width: int) -> pa.Array:
    """``fixed_size_binary[width]`` over a copy of one S/V field's bytes."""
    raw = np.ascontiguousarray(col)
    return pa.Array.from_buffers(pa.binary(width), len(raw), [None, pa.py_buffer(raw)])


def _decimal_array(unscaled: np.ndarray, typ: pa.DataType) -> pa.Array:
    """decimal128 array of 64-bit unscaled integers.  Each value is 16
    little-endian bytes: the integer, then its sign extension."""
    words = np.empty((len(unscaled), 2), dtype=np.int64)
    words[:, 0] = unscaled
    words[:, 1] = 0 if unscaled.dtype.kind == "u" else unscaled >> 63
    return pa.Array.from_buffers(typ, len(unscaled), [None, pa.py_buffer(words)])


def _decode_field(col: np.ndarray, ft: FieldType, typ: pa.DataType) -> pa.Array:
    if ft.kind == "string":
        return _decode_string(col, ft.nbytes)
    if ft.kind == "data":
        return _fixed_binary(col, ft.nbytes).cast(pa.binary())
    if ft.kind == "decimal":
        return _decode_bcd(col, ft, typ)
    if ft.kind == "boolean":
        return pa.array(col != 0)
    if ft.kind == "real":
        # FLAT has no null marker; NaN reads as SQL NULL.
        return pa.array(np.ascontiguousarray(col), from_pandas=True)
    if ft.nbytes in _STD_WIDTHS:
        vals = col
    else:
        vals = _decode_odd_int(col, ft.nbytes, ft.kind == "integer")
    if pa.types.is_decimal(typ):  # UNSIGNED8 → Decimal(20,0)
        return _decimal_array(np.ascontiguousarray(vals), typ)
    return pa.array(vals.astype(typ.to_pandas_dtype()))


def _decode_string(col: np.ndarray, width: int) -> pa.Array:
    """STRINGn: drop trailing NULs, then trailing spaces (ECL space
    padding)."""
    raw = np.ascontiguousarray(col)
    if raw.view(np.uint8).max(initial=0) < 0x80:
        s = _fixed_binary(raw, width).cast(pa.string())
        return pc.ascii_rtrim(pc.ascii_rtrim(s, "\0"), " ")
    # Non-ASCII latin-1 bytes change length in UTF-8; numpy's S dtype
    # strips the trailing NULs.
    return pa.array(
        [v.decode("latin-1").rstrip(" ") for v in col.tolist()], pa.string()
    )


def _decode_odd_int(raw: np.ndarray, nbytes: int, signed: bool) -> np.ndarray:
    """Recompose little-endian ints of width 3/5/6/7 from raw bytes."""
    b = raw.view((np.uint8, nbytes)).astype(np.uint64)
    weights = (np.uint64(1) << (np.uint64(8) * np.arange(nbytes, dtype=np.uint64)))
    vals = (b * weights).sum(axis=1, dtype=np.uint64)
    if signed:
        sign_bit = np.uint64(1) << np.uint64(8 * nbytes - 1)
        full = np.uint64(1) << np.uint64(8 * nbytes)
        out = vals.astype(np.int64)
        neg = (vals & sign_bit) != 0
        out[neg] = (vals[neg].astype(np.int64)) - np.int64(full)
        return out
    return vals.astype(np.int64)


def _decode_bcd(raw: np.ndarray, ft: FieldType, typ: pa.DataType) -> pa.Array:
    """Packed-BCD decode: nibble matrix → unscaled int → decimal128."""
    n = len(raw)
    b = raw.view((np.uint8, ft.nbytes)).reshape(n, ft.nbytes)
    slots = 2 * ft.nbytes - 1
    dig = np.empty((n, 2 * ft.nbytes), dtype=np.uint8)
    dig[:, 0::2] = b >> 4
    dig[:, 1::2] = b & 0x0F
    sign_nib = dig[:, -1]
    digits = dig[:, :-1]
    if (digits > 9).any():
        raise ValueError(f"invalid BCD digit in field {ft.kind}")
    neg = sign_nib == 0x0D
    if slots <= 18:
        powers = 10 ** np.arange(slots - 1, -1, -1, dtype=np.int64)
        unscaled = (digits.astype(np.int64) * powers).sum(axis=1)
        # An even digit count leaves one spare nibble slot.
        if (unscaled >= 10**ft.digits).any():
            raise ValueError(f"BCD value exceeds DECIMAL{ft.digits}.{ft.scale}")
        return _decimal_array(np.where(neg, -unscaled, unscaled), typ)
    vals = []
    for i in range(n):
        u = int("".join(map(str, digits[i])) or "0")
        vals.append(-u if neg[i] else u)
    return pa.array([decimal.Decimal(v).scaleb(-ft.scale) for v in vals], typ)


def _encode_field(col: pa.Array, ft: FieldType) -> np.ndarray:
    """One column as values of the field's packed numpy dtype."""
    w = ft.nbytes
    if ft.kind == "string":
        return _encode_string(col, w)
    if ft.kind == "data":
        padded = b"".join(
            (v or b"")[:w].ljust(w, b"\x00") for v in col.to_pylist()
        )
        return np.frombuffer(padded, dtype=f"V{w}")
    if ft.kind == "boolean":
        return col.cast(pa.bool_()).fill_null(False).to_numpy(zero_copy_only=False)
    if ft.kind == "real":
        real = pa.float32() if w == 4 else pa.float64()
        return col.cast(real, safe=False).to_numpy(zero_copy_only=False)
    if col.null_count:
        raise ValueError(f"null in a {ft.kind}{w} field (FLAT records have no null)")
    if ft.kind == "decimal":
        return np.frombuffer(_pack_bcd(col.to_pylist(), ft).tobytes(), dtype=f"V{w}")
    return _encode_int(col, ft)


def _encode_string(col: pa.Array, width: int) -> np.ndarray:
    if not pa.types.is_string(col.type):
        col = col.cast(pa.string())
    col = col.fill_null("")
    if _is_ascii(col):
        # One byte per character: byte slicing is character slicing.
        if (pc.max(pc.binary_length(col)).as_py() or 0) > width:
            col = pc.binary_slice(col.view(pa.binary()), 0, width).view(pa.string())
        fixed = pc.ascii_rpad(col, width, " ").cast(pa.binary(width))
        return np.frombuffer(
            fixed.buffers()[1], dtype=f"S{width}", count=len(fixed),
            offset=fixed.offset * width,
        )
    return np.array(
        [v[:width].ljust(width).encode("latin-1") for v in col.to_pylist()],
        dtype=f"S{width}",
    )


def _is_ascii(s: pa.Array) -> bool:
    """Whether every value of the string array ``s`` is ASCII."""
    _, offsets, data = s.buffers()
    if data is None:
        return True
    off = np.frombuffer(offsets, dtype=np.int32)[s.offset : s.offset + len(s) + 1]
    values = np.frombuffer(data, dtype=np.uint8)[off[0] : off[-1]]
    return values.max(initial=0) < 0x80


def _encode_int(col: pa.Array, ft: FieldType) -> np.ndarray:
    signed = ft.kind == "integer"
    bits = 8 * ft.nbytes
    lo, hi = (-(1 << (bits - 1)), 1 << (bits - 1)) if signed else (0, 1 << bits)
    if pa.types.is_integer(col.type):
        vals = col.to_numpy()
    else:  # decimal, float or boolean input: exact Python ints
        vals = np.array([int(v) for v in col.to_pylist()], dtype=object)
    if len(vals) and (int(vals.min()) < lo or int(vals.max()) >= hi):
        bad = [v for v in vals.tolist() if not lo <= v < hi][:3]
        raise OverflowError(f"values {bad} out of range for {ft.kind}{ft.nbytes}")
    if ft.nbytes in _STD_WIDTHS:
        return vals.astype(f"<{'i' if signed else 'u'}{ft.nbytes}")
    # Odd width: the low bytes of the little-endian two's complement.
    u = vals.astype(np.int64 if signed else np.uint64).astype("<u8")
    return np.frombuffer(
        u.view(np.uint8).reshape(-1, 8)[:, : ft.nbytes].tobytes(), dtype=f"V{ft.nbytes}"
    )


def _pack_bcd(values: list, ft: FieldType) -> np.ndarray:
    """Decimal → packed BCD bytes (sign nibble 0xC/0xD)."""
    n = len(values)
    slots = 2 * ft.nbytes - 1
    limit = 10 ** ft.digits
    out = np.zeros((n, ft.nbytes), dtype=np.uint8)
    q = decimal.Decimal(1).scaleb(-ft.scale)
    for i, v in enumerate(values):
        d = decimal.Decimal(str(v)) if not isinstance(v, decimal.Decimal) else v
        unscaled = int(d.quantize(q, rounding=decimal.ROUND_HALF_UP).scaleb(ft.scale))
        if abs(unscaled) >= limit:
            raise OverflowError(
                f"{v} exceeds DECIMAL{ft.digits}.{ft.scale}"
            )
        s = str(abs(unscaled)).rjust(slots, "0")
        nibbles = [int(c) for c in s] + [0x0D if unscaled < 0 else 0x0C]
        for j in range(ft.nbytes):
            out[i, j] = (nibbles[2 * j] << 4) | nibbles[2 * j + 1]
    return out
