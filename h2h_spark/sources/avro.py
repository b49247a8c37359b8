"""Avro Object Container Files — pure-Python codec + split-realigning
scanner (engine extension; Apache Avro 1.x spec — public).

The container ships no spark-avro module jar, so the engine implements
OCF the same way it implements the reference's wire formats: a driver
planner that reads every header and slices files into byte ranges, and
tasks (``util.scan_splits``) that REALIGN to record boundaries — here the 16-byte **sync marker** that
Avro puts after every block precisely so that splittable readers can do
this.  The task contract is the same as the CSV scanner's
(``libhdfsconnector.cpp:476-558`` semantics): skip forward from the
range start to the first sync marker (unless at the data start), then
read whole blocks, continuing PAST the range end to finish the block
that straddles it.

Codec support: ``null`` and ``deflate`` (stdlib zlib, raw).  Schema
subset: a record of ``long`` / ``double`` / ``string`` / ``boolean``
fields, each optionally nullable as ``["null", T]`` unions — the shapes
the TPC-H-ish tables need; anything else raises loudly (never silent
truncation).  Binary encoding per spec: zigzag varints for long,
little-endian IEEE for double, length-prefixed UTF-8 for string.

Scale posture: the sync-marker scan reads only the range head; blocks
decode streaming into Arrow batches; ``max_partition_bytes`` plans
~128 MiB tasks like every other source here.  Writes produce one OCF per
partition (``part_<i>_<N>``) via the shared commit-by-rename sink.
"""

from __future__ import annotations

import functools
import json
import struct
import zlib
from hashlib import md5
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from h2h_spark.sources import sink as _sink
from h2h_spark.sources.util import (
    byte_ranges,
    file_size,
    list_part_files,
    open_input,
    scan_splits,
)

_MAGIC = b"Obj\x01"
_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


# ---------------------------------------------------------------------------
# primitive binary codec (Avro spec §"Binary Encoding")
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _enc_bytes(b: bytes) -> bytes:
    return _zigzag_encode(len(b)) + b


def _enc_str(s: str) -> bytes:
    return _enc_bytes(s.encode("utf-8"))


# ---------------------------------------------------------------------------
# schema mapping
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO = {
    T.LongType: "long",
    T.IntegerType: "long",
    T.DoubleType: "double",
    T.FloatType: "double",
    T.StringType: "string",
    T.BooleanType: "boolean",
    T.BinaryType: "bytes",
}

# "float" appears only in DECODE plans built from an external writer
# schema: it is 4 bytes on the wire (zigzag-varint "int" safely aliases
# to "long", but float does NOT alias to double) and widens to DOUBLE
# after decode.  The writer side never emits it (_avro_schema maps
# FloatType to "double").
_PRIMITIVES = ("long", "float", "double", "string", "boolean", "bytes")


def _avro_type_for(dt: T.DataType, name: str) -> dict | str:
    base = _SPARK_TO_AVRO.get(type(dt))
    if base is not None:
        return base
    if isinstance(dt, T.ArrayType):
        items = _avro_type_for(dt.elementType, name)
        if dt.containsNull:
            items = ["null", items]
        return {"type": "array", "items": items}
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise ValueError(f"avro maps have string keys ({name!r})")
        values = _avro_type_for(dt.valueType, name)
        if dt.valueContainsNull:
            values = ["null", values]
        return {"type": "map", "values": values}
    if isinstance(dt, T.StructType):
        return avro_schema_for(dt, name=f"{name}_rec")
    raise ValueError(
        f"avro source supports long/double/string/boolean/bytes/"
        f"array/map/record fields; got {dt} for {name!r}"
    )


def avro_schema_for(schema: T.StructType, name: str = "row") -> dict:
    fields = []
    for f in schema.fields:
        t = _avro_type_for(f.dataType, f.name)
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return {"type": "record", "name": name, "fields": fields}


# recursive plan representation:
#   ("prim", base)                       primitive
#   ("array", elem_plan)                 array<elem>
#   ("map", value_plan)                  map<string, value>
#   ("record", [(name, plan, nullable)]) nested record
def _type_plan(t) -> tuple:
    if isinstance(t, list):  # ["null", T] union (element/value position)
        if len(t) != 2 or "null" not in t:
            raise ValueError(f"unsupported union {t}")
        return ("union", _type_plan([x for x in t if x != "null"][0]))
    if isinstance(t, str):
        base = {"int": "long"}.get(t, t)
        if base not in _PRIMITIVES:
            raise ValueError(f"unsupported avro type {t!r}")
        return ("prim", base)
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "array":
            return ("array", _type_plan(t["items"]))
        if kind == "map":
            return ("map", _type_plan(t["values"]))
        if kind == "record":
            return ("record", [
                _plan_field(f) for f in t["fields"]
            ])
        if kind in _PRIMITIVES or kind == "int":
            return _type_plan(kind)
    raise ValueError(f"unsupported avro type {t!r}")


def _plan_field(f: dict) -> tuple[str, tuple, bool]:
    t = f["type"]
    nullable = False
    if isinstance(t, list):
        if len(t) != 2 or "null" not in t:
            raise ValueError(f"unsupported union {t} for {f['name']!r}")
        nullable = True
        t = [x for x in t if x != "null"][0]
    return (f["name"], _type_plan(t), nullable)


def _field_plan(avro: dict) -> list[tuple[str, tuple, bool]]:
    """[(name, type_plan, nullable)] from an avro record schema; loud
    on anything outside the supported subset."""
    if avro.get("type") != "record":
        raise ValueError("top-level avro schema must be a record")
    return [_plan_field(f) for f in avro["fields"]]


def _spark_type(plan: tuple) -> T.DataType:
    kind = plan[0]
    if kind == "union":
        return _spark_type(plan[1])
    if kind == "prim":
        return {
            "long": T.LongType(), "double": T.DoubleType(),
            "float": T.DoubleType(),  # widened after the 4-byte decode
            "string": T.StringType(), "boolean": T.BooleanType(),
            "bytes": T.BinaryType(),
        }[plan[1]]
    if kind == "array":
        return T.ArrayType(_spark_type(plan[1]),
                           containsNull=plan[1][0] == "union")
    if kind == "map":
        return T.MapType(T.StringType(), _spark_type(plan[1]),
                         valueContainsNull=plan[1][0] == "union")
    return T.StructType([
        T.StructField(n, _spark_type(p), nullable)
        for n, p, nullable in plan[1]
    ])


def _spark_schema(plan: list[tuple[str, tuple, bool]]) -> T.StructType:
    return T.StructType(
        [T.StructField(n, _spark_type(p), nullable)
         for n, p, nullable in plan]
    )


# ---------------------------------------------------------------------------
# row codec
# ---------------------------------------------------------------------------


def _encode_value(plan: tuple, v, out: bytearray) -> None:
    kind = plan[0]
    if kind == "union":
        if v is None:
            out += _zigzag_encode(0)
            return
        out += _zigzag_encode(1)
        _encode_value(plan[1], v, out)
        return
    if kind == "prim":
        base = plan[1]
        if base == "long":
            out += _zigzag_encode(int(v))
        elif base == "double":
            out += struct.pack("<d", float(v))
        elif base == "float":  # symmetric with decode: 4 bytes on wire
            out += struct.pack("<f", float(v))
        elif base == "string":
            out += _enc_str(str(v))
        elif base == "bytes":
            out += _enc_bytes(bytes(v))
        else:  # boolean
            out.append(1 if v else 0)
    elif kind == "array":
        items = list(v)
        if items:
            out += _zigzag_encode(len(items))
            for item in items:
                _encode_value(plan[1], item, out)
        out += _zigzag_encode(0)
    elif kind == "map":
        entries = v.items() if isinstance(v, dict) else list(v)
        entries = sorted(entries)  # deterministic output
        if entries:
            out += _zigzag_encode(len(entries))
            for mk, mv in entries:
                out += _enc_str(str(mk))
                _encode_value(plan[1], mv, out)
        out += _zigzag_encode(0)
    else:  # record
        for name, fplan, nullable in plan[1]:
            fv = v[name] if isinstance(v, dict) else getattr(v, name)
            if nullable:
                if fv is None:
                    out += _zigzag_encode(0)
                    continue
                out += _zigzag_encode(1)
            elif fv is None:
                raise ValueError(
                    f"null in non-nullable avro field {name!r}"
                )
            _encode_value(fplan, fv, out)


def _encode_rows(plan, cols, n_rows: int) -> bytes:
    out = bytearray()
    row_plan = ("record", plan)
    for i in range(n_rows):
        _encode_value(row_plan, {n: col[i] for (n, _, _), col
                                 in zip(plan, cols)}, out)
    return bytes(out)


def _decode_value(plan: tuple, buf: bytes, pos: int):
    kind = plan[0]
    if kind == "union":
        branch, pos = _zigzag_decode(buf, pos)
        if branch == 0:
            return None, pos
        return _decode_value(plan[1], buf, pos)
    if kind == "prim":
        base = plan[1]
        if base == "long":
            return _zigzag_decode(buf, pos)
        if base == "double":
            return struct.unpack_from("<d", buf, pos)[0], pos + 8
        if base == "float":  # 4 bytes on the wire; widen to double
            return struct.unpack_from("<f", buf, pos)[0], pos + 4
        if base == "string":
            ln, pos = _zigzag_decode(buf, pos)
            return buf[pos:pos + ln].decode("utf-8"), pos + ln
        if base == "bytes":
            ln, pos = _zigzag_decode(buf, pos)
            return bytes(buf[pos:pos + ln]), pos + ln
        v = buf[pos] != 0
        return v, pos + 1
    if kind == "array":
        items = []
        while True:
            count, pos = _zigzag_decode(buf, pos)
            if count == 0:
                return items, pos
            if count < 0:  # block-size form
                _, pos = _zigzag_decode(buf, pos)
                count = -count
            for _ in range(count):
                v, pos = _decode_value(plan[1], buf, pos)
                items.append(v)
    if kind == "map":
        entries = {}
        while True:
            count, pos = _zigzag_decode(buf, pos)
            if count == 0:
                return entries, pos
            if count < 0:
                _, pos = _zigzag_decode(buf, pos)
                count = -count
            for _ in range(count):
                ln, pos = _zigzag_decode(buf, pos)
                k = buf[pos:pos + ln].decode("utf-8")
                pos += ln
                v, pos = _decode_value(plan[1], buf, pos)
                entries[k] = v
    # record
    rec = {}
    for name, fplan, nullable in plan[1]:
        if nullable:
            branch, pos = _zigzag_decode(buf, pos)
            if branch == 0:
                rec[name] = None
                continue
        v, pos = _decode_value(fplan, buf, pos)
        rec[name] = v
    return rec, pos


def _decode_rows(plan, buf: bytes, n_rows: int, pos: int = 0):
    cols: list[list] = [[] for _ in plan]
    row_plan = ("record", plan)
    for _ in range(n_rows):
        rec, pos = _decode_value(row_plan, buf, pos)
        for k, (name, _, _) in enumerate(plan):
            cols[k].append(rec[name])
    return cols, pos


# ---------------------------------------------------------------------------
# container header
# ---------------------------------------------------------------------------


def _header_bytes(avro: dict, codec: str, sync: bytes) -> bytes:
    meta = {
        "avro.schema": json.dumps(avro).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(_MAGIC)
    out += _zigzag_encode(len(meta))
    for k, v in sorted(meta.items()):
        out += _enc_str(k)
        out += _enc_bytes(v)
    out += _zigzag_encode(0)
    out += sync
    return bytes(out)


def _parse_header(buf: bytes) -> tuple[dict, str, bytes, int]:
    """(schema, codec, sync, header_len) — raises on non-OCF input."""
    if buf[:4] != _MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _zigzag_decode(buf, pos)
        if count == 0:
            break
        if count < 0:  # block-size form: skip the byte size
            _, pos = _zigzag_decode(buf, pos)
            count = -count
        for _ in range(count):
            kl, pos = _zigzag_decode(buf, pos)
            if pos + kl > len(buf):  # slices truncate silently; be loud
                raise IndexError("avro header key extends past buffer")
            key = buf[pos : pos + kl].decode()
            pos += kl
            vl, pos = _zigzag_decode(buf, pos)
            if pos + vl > len(buf):
                raise IndexError("avro header value extends past buffer")
            meta[key] = buf[pos : pos + vl]
            pos += vl
    if pos + 16 > len(buf):
        raise IndexError("avro sync marker extends past buffer")
    sync = buf[pos : pos + 16]
    pos += 16
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    return json.loads(meta["avro.schema"]), codec, sync, pos


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


class AvroSplit(NamedTuple):
    path: str
    start: int
    end: int  # exclusive
    header_len: int
    codec: str
    sync: str  # the file's 16-byte sync marker, hex


def _read_split(plan, split: AvroSplit) -> Iterator[pa.RecordBatch]:
    sync = bytes.fromhex(split.sync)
    arrow = _arrow_schema(plan)
    # Ranged read with extension: buffer [start-16, end) plus a
    # readahead, extending as the straddling block requires — the
    # task never touches bytes before its range (minus the marker
    # seek-back) and reads past the end only to FINISH the block that
    # straddles it (the CSV scanner's stop-at-next-EOL contract).
    readahead = 1 << 20
    base = max(split.start - 16, split.header_len)
    with open_input(split.path) as f:
        f.seek(base)
        buf = bytearray(f.read((split.end - base) + readahead))

        def ensure(upto: int) -> bool:
            """Grow the buffer to hold `upto` bytes; False at EOF."""
            while len(buf) < upto:
                more = f.read(max(upto - len(buf), readahead))
                if not more:
                    return False
                buf.extend(more)
            return True

        pos = split.start - base
        if split.start > split.header_len:
            idx = bytes(buf).find(sync, 0)
            if idx < 0:
                return  # no block starts in this range
            pos = idx + 16
        end_rel = split.end - base
        while pos < end_rel and pos < len(buf):
            ensure(pos + 20)  # two varints need at most 20 bytes
            head = bytes(buf[pos : pos + 20])
            try:
                n_rows, p2 = _zigzag_decode(head, 0)
                n_bytes, p3 = _zigzag_decode(head, p2)
            except IndexError:
                raise ValueError(
                    f"{split.path}: truncated block header at {base + pos}"
                ) from None
            pos += p3
            if not ensure(pos + n_bytes + 16):
                raise ValueError(
                    f"{split.path}: truncated block at {base + pos}"
                )
            blob = bytes(buf[pos : pos + n_bytes])
            pos += n_bytes
            if bytes(buf[pos : pos + 16]) != sync:
                raise ValueError(
                    f"{split.path}: block at {base + pos} missing sync marker"
                )
            pos += 16
            if split.codec == "deflate":
                blob = zlib.decompress(blob, wbits=-15)
            cols, _ = _decode_rows(plan, blob, n_rows)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=fld.type) for c, fld in zip(cols, arrow)],
                schema=arrow,
            )


def _arrow_type(plan: tuple) -> pa.DataType:
    kind = plan[0]
    if kind == "union":
        return _arrow_type(plan[1])
    if kind == "prim":
        return {
            "long": pa.int64(), "double": pa.float64(),
            "float": pa.float64(),  # widened after the 4-byte decode
            "string": pa.string(), "boolean": pa.bool_(),
            "bytes": pa.binary(),
        }[plan[1]]
    if kind == "array":
        return pa.list_(_arrow_type(plan[1]))
    if kind == "map":
        return pa.map_(pa.string(), _arrow_type(plan[1]))
    return pa.struct([
        pa.field(n, _arrow_type(p), nullable)
        for n, p, nullable in plan[1]
    ])


def _arrow_schema(plan) -> pa.Schema:
    return pa.schema([
        pa.field(n, _arrow_type(p), nullable) for n, p, nullable in plan
    ])


def _read_header(path: str) -> tuple[dict, str, bytes, int]:
    """One file's ``(schema, codec, sync, header_len)``.  The
    metadata/schema block of a wide record (or a writer that stuffs extra
    metadata keys) can exceed any fixed probe size — grow the buffer
    geometrically until the header parses whole instead of failing on a
    truncated varint/value slice."""
    probe = 4096
    with open_input(path) as f:
        head = f.read(probe)
        while True:
            try:
                return _parse_header(head)
            except KeyError:
                # The meta map parsed whole but lacks the mandatory schema
                # key — a structural file error, not truncation; growing
                # the buffer can't fix it.
                raise ValueError(
                    f"h2h_avro: {path} OCF header has no 'avro.schema' "
                    "metadata key"
                ) from None
            except IndexError:  # ran off the buffer: true truncation
                more = f.read(probe)
                if not more:
                    raise ValueError(
                        f"h2h_avro: {path} ends inside the OCF header "
                        f"({len(head)} bytes read) — truncated file?"
                    ) from None
                head += more
                probe *= 2


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def write_avro(
    df: DataFrame,
    path: str,
    *,
    codec: str = "null",
    rows_per_block: int = 4096,
    overwrite: bool = True,
) -> list[_sink.PartInfo]:
    """One OCF per partition (``part_<i>_<N>``), commit-by-rename.  The
    sync marker is the md5 of the schema JSON — deterministic output."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    avro = avro_schema_for(df.schema)
    plan = _field_plan(avro)
    sync = md5(json.dumps(avro).encode()).digest()
    header = _header_bytes(avro, codec, sync)

    def _serialize(batch: pa.RecordBatch) -> bytes:
        cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
        out = bytearray()
        for lo in range(0, batch.num_rows, rows_per_block):
            hi = min(lo + rows_per_block, batch.num_rows)
            body = _encode_rows(
                plan, [c[lo:hi] for c in cols], hi - lo
            )
            if codec == "deflate":
                comp = zlib.compressobj(wbits=-15)
                body = comp.compress(body) + comp.flush()
            out += _zigzag_encode(hi - lo)
            out += _zigzag_encode(len(body))
            out += body
            out += sync
        return bytes(out)

    return _sink.write_partition_files(
        df, path, _serialize, header=header, overwrite=overwrite
    )


def read_avro(
    spark: SparkSession,
    path: str,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> DataFrame:
    """Schema comes from the file headers (all parts must agree)."""
    paths = list_part_files(path)
    if not paths:
        raise ValueError(f"h2h_avro: no input files at {path}")
    schema, splits = None, []
    for p in paths:
        s, codec, sync, hdr = _read_header(p)
        if schema is None:
            schema = s
        elif s != schema:
            raise ValueError(f"h2h_avro: schema mismatch in {p}")
        splits += [
            AvroSplit(p, hdr + lo, hdr + hi, hdr, codec, sync.hex())
            for lo, hi in byte_ranges(file_size(p) - hdr, max_partition_bytes)
        ]
    plan = _field_plan(schema)
    return scan_splits(
        spark, splits, functools.partial(_read_split, plan), _spark_schema(plan)
    )
