"""tf.Example protobuf codec — the payload format inside TFRecord
training shards (public: tensorflow/core/example/example.proto &
feature.proto, protobuf wire format per protobuf.dev/programming-guides/
encoding).  Hand-rolled varint/length-delimited decode, no protobuf
dependency:

    Example  { Features features = 1 }
    Features { map<string, Feature> feature = 1 }
    Feature  { oneof kind { BytesList bytes_list = 1;
                            FloatList float_list = 2;
                            Int64List int64_list = 3 } }
    BytesList { repeated bytes value = 1 }
    FloatList { repeated float value = 1 [packed=true] }
    Int64List { repeated int64 value = 1 [packed=true] }

The decoder accepts both packed and unpacked repeated scalars (the wire
spec requires parsers to accept either) and ignores unknown fields, as
conformant protobuf readers must.

DataFrame surface: :func:`parse_tf_examples` turns a binary column of
serialized Examples into typed columns per a feature spec, Arrow-batched
via ``mapInPandas``: a codec is per-row compute, but unlike the image
decoders' :func:`h2h_spark.operators.per_row` stage every input column
passes through."""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------- wire


def _enc_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _dec_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def _ld(tag_field: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _enc_varint((tag_field << 3) | 2) + _enc_varint(len(payload)) + payload


def encode_tf_example(features: dict) -> bytes:
    """Serialize ``{name: value}`` to a tf.Example.  Value types: int /
    list[int] → Int64List (packed), float / list[float] → FloatList
    (packed), bytes/str / list thereof → BytesList."""
    feats = b""
    for name, val in features.items():
        if isinstance(val, (int, float, bytes, str)):
            val = [val]
        if not val:
            raise ValueError(f"feature {name!r} is empty")
        if isinstance(val[0], bool):
            raise TypeError("bool features are not a tf.Example type")
        if isinstance(val[0], int):
            body = b"".join(_enc_varint(v & 0xFFFFFFFFFFFFFFFF) for v in val)
            kind = _ld(3, _ld(1, body))  # Int64List.value packed
        elif isinstance(val[0], float):
            body = b"".join(struct.pack("<f", v) for v in val)
            kind = _ld(2, _ld(1, body))  # FloatList.value packed
        else:
            vals = [v.encode() if isinstance(v, str) else v for v in val]
            kind = _ld(1, b"".join(_ld(1, v) for v in vals))  # BytesList
        entry = _ld(1, name.encode()) + _ld(2, kind)  # map entry key/value
        feats += _ld(1, entry)  # Features.feature
    return _ld(1, feats)  # Example.features


def _fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Yield (field_number, wire_type, value) over one message."""
    i = 0
    while i < len(buf):
        key, i = _dec_varint(buf, i)
        field, wt = key >> 3, key & 7
        if wt == 0:
            val, i = _dec_varint(buf, i)
        elif wt == 2:
            ln, i = _dec_varint(buf, i)
            if i + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            val = buf[i:i + ln]
            i += ln
        elif wt == 5:
            if i + 4 > len(buf):
                raise ValueError("truncated fixed32 field")
            val = buf[i:i + 4]
            i += 4
        elif wt == 1:
            if i + 8 > len(buf):
                raise ValueError("truncated fixed64 field")
            val = buf[i:i + 8]
            i += 8
        elif wt in (3, 4):
            # deprecated group wire types: no length prefix, so a group
            # cannot be skipped without tracking nesting — consume
            # matching START/END keys and drop the content (the
            # "ignores unknown fields" contract)
            if wt == 4:
                raise ValueError("END_GROUP without matching START_GROUP")
            depth = 1
            while depth:
                if i >= len(buf):
                    raise ValueError("truncated group field")
                k, i = _dec_varint(buf, i)
                w = k & 7
                if w == 3:
                    depth += 1
                elif w == 4:
                    depth -= 1
                elif w == 0:
                    _, i = _dec_varint(buf, i)
                elif w == 2:
                    ln, i = _dec_varint(buf, i)
                    if i + ln > len(buf):
                        raise ValueError("truncated group field")
                    i += ln
                elif w == 5:
                    i += 4
                elif w == 1:
                    i += 8
                else:
                    raise ValueError(f"unsupported wire type {w}")
                if i > len(buf):
                    raise ValueError("truncated group field")
            continue
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, val


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def decode_tf_example(buf: bytes) -> dict:
    """Parse one serialized Example → ``{name: list}`` (int64 lists as
    Python ints, float lists as float32-exact floats, bytes lists as
    bytes).  Unknown fields are skipped, packed and unpacked scalar
    encodings both accepted."""
    out: dict = {}
    for f1, wt, features in _fields(buf):
        if f1 != 1 or wt != 2:
            continue
        for f2, wt2, entry in _fields(features):
            if f2 != 1 or wt2 != 2:
                continue
            name = None
            feature = b""
            for f3, wt3, v in _fields(entry):
                if f3 == 1 and wt3 == 2:
                    name = v.decode("utf-8", "replace")
                elif f3 == 2 and wt3 == 2:
                    feature = v
            if name is None:
                continue
            vals: list = []
            for f4, wt4, kind in _fields(feature):
                if f4 == 3:  # Int64List
                    for f5, wt5, v in _fields(kind):
                        if f5 != 1:
                            continue
                        if wt5 == 2:  # packed
                            i = 0
                            while i < len(v):
                                x, i = _dec_varint(v, i)
                                vals.append(_to_signed64(x))
                        elif wt5 == 0:
                            vals.append(_to_signed64(v))
                elif f4 == 2:  # FloatList
                    for f5, wt5, v in _fields(kind):
                        if f5 != 1:
                            continue
                        if wt5 == 2:  # packed
                            vals.extend(
                                struct.unpack(f"<{len(v) // 4}f", v)
                            )
                        elif wt5 == 5:
                            vals.append(struct.unpack("<f", v)[0])
                elif f4 == 1:  # BytesList
                    for f5, wt5, v in _fields(kind):
                        if f5 == 1 and wt5 == 2:
                            vals.append(v)
            out[name] = vals
    return out


# ------------------------------------------------------------ DataFrame

_SPEC_TYPES = {"int64": "array<bigint>", "float": "array<double>",
               "bytes": "array<binary>", "string": "array<string>"}


def parse_tf_examples(
    df: DataFrame, data_col: str, spec: dict[str, str]
) -> DataFrame:
    """Decode a binary column of serialized tf.Examples into one array
    column per ``spec`` entry (``{feature_name: int64|float|bytes|
    string}``); a feature absent from a record yields NULL.  All other
    input columns pass through.  Arrow-batched; the decode is pure
    per-row compute with no shuffle."""
    import pandas as pd

    for t in spec.values():
        if t not in _SPEC_TYPES:
            raise ValueError(f"unknown tf.Example feature type {t!r}")
    clash = sorted(set(spec) & set(df.columns))
    if clash:
        raise ValueError(
            f"spec feature name(s) {clash} collide with input column(s); "
            f"rename or drop the input column first"
        )
    passthrough = [c for c in df.columns]
    out_schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in passthrough]
        + [f"`{n}` {_SPEC_TYPES[t]}" for n, t in spec.items()]
    )
    names = list(spec)
    types = dict(spec)

    def _run(batches):
        for pdf in batches:
            cols: dict[str, list] = {n: [] for n in names}
            for raw in pdf[data_col]:
                feats = decode_tf_example(bytes(raw))
                for n in names:
                    v = feats.get(n)
                    if v is None:
                        cols[n].append(None)
                    elif types[n] == "string":
                        cols[n].append(
                            [b.decode("utf-8", "replace") for b in v]
                        )
                    elif types[n] == "float":
                        cols[n].append([float(x) for x in v])
                    else:
                        cols[n].append(v)
            res = pdf[passthrough].copy()
            for n in names:
                res[n] = pd.Series(cols[n], index=pdf.index, dtype="object")
            yield res

    return df.mapInPandas(_run, out_schema)
