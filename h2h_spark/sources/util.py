"""Shared helpers for the wire-format sources.

- :func:`expand_escapes` — the reference's ``expandEscapedChars``
  (``hdfsconnector.hpp:74-129``): turn ``\\n``/``\\t``/… escape sequences in
  terminator/quote options into real bytes.
- :func:`open_input` / :func:`filesystem_for` — file access that works for
  local paths in tests and any pyarrow-supported filesystem (hdfs://, s3://)
  on a cluster, mirroring the reference's libhdfs/webhdfs transports
  (``libhdfsconnector.cpp:904-918``, ``webhdfsconnector.cpp:169-238``) with
  the Hadoop/Arrow clients instead of hand-rolled JNI/REST.
- :func:`scan_splits` — the driver-planned scan shared by every reader:
  one task per split descriptor, each decoding its own byte range;
  :func:`byte_ranges` / :func:`plan_byte_ranges` cut files into the
  plain ranges most planners start from, and :func:`record_batches`
  turns a task's rows into bounded Arrow batches.
"""

from __future__ import annotations

import glob
import os
import re
from typing import BinaryIO, Callable, Iterable, Iterator, NamedTuple, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_ESCAPES = {
    "n": "\n",
    "r": "\r",
    "t": "\t",
    "b": "\b",
    "v": "\v",
    "f": "\f",
    "\\": "\\",
    "'": "'",
    '"': '"',
    "0": "\0",
    "a": "\a",
    "e": "\x1b",
}


def expand_escapes(s: str) -> str:
    """Expand backslash escapes the way ``expandEscapedChars`` does
    (``hdfsconnector.hpp:74-129``): recognized sequences become their byte;
    an unrecognized ``\\x`` is dropped entirely (both the backslash and the
    character — the reference's default case appends nothing)."""
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strip_scheme(path: str) -> str:
    """Local-path form of a file: / plain URI (for python-side IO)."""
    m = re.match(r"^file:(//)?(/.*)$", path)
    if m:
        return m.group(2)
    return path


def is_local(path: str) -> bool:
    return "://" not in path or path.startswith("file:")


def is_webhdfs(path: str) -> bool:
    return path.startswith("webhdfs://")


def open_input(path: str) -> BinaryIO:
    """Open a (possibly remote) file for random-access binary read.

    Local paths use plain ``open``; ``webhdfs://`` speaks the engine's
    REST client (ranged OPEN reads — :mod:`h2h_spark.sources.webhdfs`);
    other schemes resolve through ``pyarrow.fs.FileSystem.from_uri``
    (HadoopFileSystem for hdfs:// — the same client stack Spark itself
    uses, replacing the reference's bespoke JNI/WebHDFS transports).
    """
    if is_local(path):
        return open(strip_scheme(path), "rb")
    if is_webhdfs(path):
        from h2h_spark.sources.webhdfs import WebHdfsInputFile, client_for

        client, p = client_for(path)
        return WebHdfsInputFile(client, p)
    from pyarrow import fs as pafs

    filesystem, p = pafs.FileSystem.from_uri(path)
    return filesystem.open_input_file(p)


def file_size(path: str) -> int:
    if is_local(path):
        return os.path.getsize(strip_scheme(path))
    if is_webhdfs(path):
        from h2h_spark.sources.webhdfs import client_for

        client, p = client_for(path)
        return int(client.status(p)["length"])
    from pyarrow import fs as pafs

    filesystem, p = pafs.FileSystem.from_uri(path)
    return filesystem.get_file_info(p).size


_PART_IDX = re.compile(r"part[-_](\d+)")


def _part_sort_key(name: str):
    """Numeric partition-index order.  The h2h naming ``part_<i>_<N>`` is
    NOT zero-padded (``hdfsconnector.hpp:65-72``), so a lexicographic sort
    would put part_10 before part_2 and break the merge-order contract
    (§4.3.7); extract the index like the reference does when it constructs
    names in index order (``libhdfsconnector.cpp:731-743``)."""
    m = _PART_IDX.search(os.path.basename(name))
    return (int(m.group(1)) if m else 1 << 62, name)


def list_part_files(path: str, pattern: str = "part*") -> list[str]:
    """Part files of a directory dataset, sorted by partition index order —
    the merge order contract (``libhdfsconnector.cpp:731-743``)."""
    if is_local(path):
        base = strip_scheme(path)
        if os.path.isfile(base):
            return [base]
        parts = sorted(
            (
                p
                for p in glob.glob(os.path.join(base, pattern))
                if not p.endswith((".crc", "_SUCCESS"))
            ),
            key=_part_sort_key,
        )
        return parts
    if is_webhdfs(path):
        import fnmatch

        from h2h_spark.sources.webhdfs import client_for, parse_uri

        client, p = client_for(path)
        host, port, _ = parse_uri(path)
        st = client.status(p)
        if st["type"] == "FILE":
            return [path]
        names = sorted(
            (
                e["pathSuffix"]
                for e in client.list_status(p)
                if e["type"] == "FILE"
                and fnmatch.fnmatch(e["pathSuffix"], pattern)
                and not e["pathSuffix"].endswith(".crc")
                and e["pathSuffix"] != "_SUCCESS"
            ),
            key=_part_sort_key,
        )
        return [f"webhdfs://{host}:{port}{p.rstrip('/')}/{n}" for n in names]
    from pyarrow import fs as pafs

    filesystem, p = pafs.FileSystem.from_uri(path)
    info = filesystem.get_file_info(p)
    if info.type.name == "File":
        return [path]
    sel = pafs.FileSelector(p, recursive=False)
    names = sorted(
        (
            f.path
            for f in filesystem.get_file_info(sel)
            if f.is_file and not f.base_name.startswith("_")
            and not f.base_name.endswith(".crc")
            and f.base_name.startswith("part")
        ),
        key=_part_sort_key,
    )
    scheme = path.split("://", 1)[0]
    return [f"{scheme}://{n}" for n in names]


def open_output(path: str) -> BinaryIO:
    """Open a (possibly remote) file for binary write (create/overwrite)."""
    if is_local(path):
        return open(strip_scheme(path), "wb")
    if is_webhdfs(path):
        from h2h_spark.sources.webhdfs import WebHdfsOutputFile, client_for

        client, p = client_for(path)
        return WebHdfsOutputFile(client, p)
    from pyarrow import fs as pafs

    filesystem, p = pafs.FileSystem.from_uri(path)
    return filesystem.open_output_stream(p)


def rename(src: str, dst: str) -> None:
    if is_local(src):
        os.replace(strip_scheme(src), strip_scheme(dst))
    elif is_webhdfs(src):
        from h2h_spark.sources.webhdfs import client_for, parse_uri

        client, p_src = client_for(src)
        _, _, p_dst = parse_uri(dst)
        client.rename(p_src, p_dst)
    else:  # pragma: no cover - remote fs
        from pyarrow import fs as pafs

        filesystem, p_src = pafs.FileSystem.from_uri(src)
        _, p_dst = pafs.FileSystem.from_uri(dst)
        filesystem.move(p_src, p_dst)


def ensure_dir(path: str) -> None:
    if is_local(path):
        os.makedirs(strip_scheme(path), exist_ok=True)
    elif is_webhdfs(path):
        from h2h_spark.sources.webhdfs import client_for

        client, p = client_for(path)
        client.mkdirs(p)
    else:
        from pyarrow import fs as pafs

        filesystem, p = pafs.FileSystem.from_uri(path)
        filesystem.create_dir(p, recursive=True)


class ByteRange(NamedTuple):
    path: str
    start: int
    end: int  # exclusive


def byte_ranges(size: int, max_partition_bytes: int) -> list[tuple[int, int]]:
    """Deterministic even byte ranges for a file: ``ceil(size / max)``
    ranges, the remainder bytes spread to the low-numbered ones.  An
    empty file has none."""
    if size <= 0:
        return []
    n = max(1, -(-size // max_partition_bytes))
    base, rem = divmod(size, n)
    out, off = [], 0
    for i in range(n):
        length = base + (1 if i < rem else 0)
        out.append((off, off + length))
        off += length
    return out


def plan_byte_ranges(
    paths: Sequence[str], max_partition_bytes: int
) -> list[ByteRange]:
    """Plain byte-range splits of every file; record alignment is left to
    the task, which owns the records that start inside its range."""
    return [
        ByteRange(path, s, e)
        for path in paths
        for s, e in byte_ranges(file_size(path), max_partition_bytes)
    ]


_BATCH_BYTES = 32 << 20


def record_batches(
    rows: Iterable[tuple], schema: pa.Schema, max_rows: int = 65536
) -> Iterator[pa.RecordBatch]:
    """Arrow batches of ``schema`` from row tuples, flushed every
    ``max_rows`` rows or once the ``bytes`` values pending reach 32 MiB,
    so a task holds one batch, never its whole range."""
    cols: list[list] = [[] for _ in schema]
    n = pending = 0

    def flush() -> pa.RecordBatch:
        return pa.record_batch(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
        )

    for row in rows:
        for c, v in zip(cols, row):
            c.append(v)
            if type(v) is bytes:
                pending += len(v)
        n += 1
        if n >= max_rows or pending >= _BATCH_BYTES:
            yield flush()
            cols = [[] for _ in schema]
            n = pending = 0
    if n:
        yield flush()


_DESC_TYPES = {str: T.StringType(), int: T.LongType()}


def scan_splits(
    spark: SparkSession,
    splits: Sequence[NamedTuple],
    read: Callable[[NamedTuple], Iterator[pa.RecordBatch]],
    schema: T.StructType | str,
) -> DataFrame:
    """Scan planned splits as one ``mapInArrow`` task per split.

    The reference's workers each compute their own byte range with no
    central planner (``libhdfsconnector.cpp:652-707``); here the driver
    plans in-process and ships each task only its own descriptor.  The
    descriptors (``NamedTuple`` of exact ``str``/``int`` fields; anything
    else raises ``TypeError``) are unpickled on the JVM side into a
    one-row-per-partition RDD, so the plan is ``MapInArrow <- Scan
    ExistingRDD`` with no other Python stage.  Like a file scan, that RDD
    has no size estimate, so a join never broadcasts the scan side.
    ``read`` turns one descriptor into Arrow batches of ``schema`` (a
    ``StructType`` or DDL string); no splits gives an empty DataFrame of
    ``schema``.
    """
    if not splits:
        return spark.createDataFrame([], schema)
    kind = type(splits[0])
    types = [type(v) for v in splits[0]]
    for split in splits:
        for f, t, v in zip(kind._fields, types, split):
            # bool is an int subclass and would read back as a long; a
            # float or None has no column type here at all
            if type(v) is not t or t not in _DESC_TYPES:
                raise TypeError(
                    f"{kind.__name__}.{f} = {v!r}: split descriptor fields "
                    "must all be exact str or all exact int"
                )
    fields = [
        T.StructField(f, _DESC_TYPES[t], False) for f, t in zip(kind._fields, types)
    ]
    sc = spark.sparkContext
    rows = sc.parallelize([tuple(s) for s in splits], len(splits))
    # pythonToJava on the parallelized bytes directly: going through
    # RDD._to_java_object_rdd would re-pickle them in a Python stage.
    jrdd = sc._jvm.SerDeUtil.toJavaArray(sc._jvm.SerDeUtil.pythonToJava(rows._jrdd, True))
    jdf = spark._jsparkSession.applySchemaToPythonRDD(
        jrdd.rdd(), T.StructType(fields).json()
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for desc in batch.to_pylist():
                yield from read(kind(**desc))

    return DataFrame(jdf, spark).mapInArrow(run, schema)
