"""XML row-tag wire format — distributed scan with split realignment.

Reproduces the reference's XML read operator (``readXMLOffset``,
``libhdfsconnector.cpp:211-383``) Spark-first: the driver cuts each file
into byte ranges and :func:`~h2h_spark.sources.util.scan_splits` runs one
task per range, so each task receives only its own ``(path, start, end)``
descriptor and the scan carries no size estimate (Spark never broadcasts
it).  Ranges are sized from ``defaultParallelism`` with a 64 MiB cap, so a
100 TB input plans ~1.6M tasks, the shape of Spark's own file scans.
Each task keeps the reference's record rules:

- each byte-range split scans for ``<rowTag`` occurrences; a record belongs
  to the split containing the *start* of its opening tag (the reference's
  ownership rule — it skips records whose open tag precedes its range and
  continues past range end to close the last open record,
  ``stopAtNextClosingTag``, lines 312-343);
- open tags spanning a buffer boundary are handled by reading ahead
  (cross-buffer tag handling, lines 285-303);
- wrapper synthesis for nested row paths (``Dataset/Area/Row``) mirrors
  ``xpath2xml`` / ``getLastXPathElement`` (lines 137-209): the scan strips
  wrappers, the writer re-emits them.

One deliberate deviation (SURVEY.md §4.3.5): the reference *silently
truncates* a node's stream on an unexpected tag or unclosed element
(stderr message but EXIT_SUCCESS, ``libhdfsconnector.cpp:318-327``).  We
detect the same conditions — a non-wrapper tag between records (strict
mode, default on), an unclosed element — and raise instead: silent data
loss is not a semantic worth preserving.

The reference never implemented XML *write* (PipeOut has only FLAT/CSV
branches, ``ecl/HDFSConnector.ecl:175-209``) and its WebHDFS back-end lacks
XML read; :func:`write_xml` is therefore engine surface beyond the
reference, built on the same partition-file sink as FLAT.
"""

from __future__ import annotations

import functools
import re
from typing import Iterator, NamedTuple, Sequence
from xml.etree import ElementTree
from xml.sax.saxutils import escape as _xml_escape

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from h2h_spark.layout import Layout
from h2h_spark.sources import sink as _sink
from h2h_spark.sources.util import file_size, list_part_files, open_input, scan_splits

_DEFAULT_MAX_PARTITION_BYTES = 64 * 1024 * 1024
_READ_CHUNK = 1 * 1024 * 1024
_PARSE_BATCH = 8192


def split_row_path(row_path: str) -> tuple[list[str], str]:
    """``'Dataset/Area/Row'`` → ``(['Dataset', 'Area'], 'Row')`` —
    ``getLastXPathElement`` parity (``libhdfsconnector.cpp:137-158``)."""
    parts = [p for p in row_path.strip("/").split("/") if p]
    if not parts:
        raise ValueError(f"empty row path: {row_path!r}")
    return parts[:-1], parts[-1]


def xpath_to_wrappers(wrapper_path: Sequence[str]) -> tuple[str, str]:
    """``['Dataset','Area']`` → ``('<Dataset><Area>', '</Area></Dataset>')``
    — ``xpath2xml`` parity (``libhdfsconnector.cpp:183-209``)."""
    opens = "".join(f"<{t}>" for t in wrapper_path)
    closes = "".join(f"</{t}>" for t in reversed(wrapper_path))
    return opens, closes


class XmlSplit(NamedTuple):
    path: str
    start: int
    end: int


def plan_xml_splits(
    paths: Sequence[str], max_partition_bytes: int
) -> list[XmlSplit]:
    """Per file: ``ceil(size / max_partition_bytes)`` byte ranges of equal
    size (the first ``size % n`` one byte longer).  Records are assigned
    to ranges at scan time by the ownership rule."""
    parts: list[XmlSplit] = []
    for path in paths:
        size = file_size(path)
        if size == 0:
            continue
        n = max(1, -(-size // max_partition_bytes))
        base, rem = divmod(size, n)
        off = 0
        for i in range(n):
            length = base + (1 if i < rem else 0)
            parts.append(XmlSplit(path, off, off + length))
            off += length
    return parts


def default_split_bytes(total_bytes: int, parallelism: int) -> int:
    """Split size when the caller sets none — the shape of Spark's own
    ``maxSplitBytes`` rule: spread the input over ``parallelism`` tasks,
    but make no split smaller than one read chunk nor larger than the
    64 MiB cap."""
    per_task = -(-total_bytes // max(1, parallelism))
    return min(_DEFAULT_MAX_PARTITION_BYTES, max(_READ_CHUNK, per_task))


_GAP_TAG = re.compile(rb"<([!?/]?)([A-Za-z0-9_:.\-]+)")


def _check_gap(
    gap: bytes, allowed: frozenset[str], path: str, at: int, row_tag: str
) -> None:
    """Strictness parity with the reference's unexpected-tag abort
    (``libhdfsconnector.cpp:318-327``): after the first row, a tag between
    records that is not a declared wrapper (or comment/PI) means the file
    does not have the promised shape.  The reference silently truncates
    the stream there (stderr + EXIT_SUCCESS); we raise — the documented
    deviation (SURVEY.md §4.3.5) now covers this case, not just unclosed
    elements."""
    for m in _GAP_TAG.finditer(gap):
        kind, name = m.group(1), m.group(2).decode("utf-8", "replace")
        if kind in (b"!", b"?"):  # comment, CDATA, declaration, PI
            continue
        if name in allowed:
            continue
        raise ValueError(
            f"{path}: unexpected tag <{m.group(1).decode()}{name}> between "
            f"<{row_tag}> records at byte {at + m.start()} (the reference "
            "would silently truncate the stream here — we refuse; declare "
            "wrapper tags via a rowtag path like 'Dataset/Area/Row' if "
            "they are expected)"
        )


def _scan_elements(
    path: str,
    start: int,
    end: int,
    row_tag: str,
    read_chunk: int = _READ_CHUNK,
    strict_allowed: frozenset[str] | None = None,
) -> Iterator[bytes]:
    """Yield whole ``<rowTag>…</rowTag>`` elements whose open tag starts in
    ``[start, end)``, reading past ``end`` to close the last record.

    ``strict_allowed`` (a set of wrapper tag names) enables the
    unexpected-tag check on the gaps between consecutive owned records and
    on the gap from the last owned record to the next record."""
    tag = row_tag.encode("utf-8")
    open_pat = re.compile(b"<" + re.escape(tag) + b"(?=[\\s/>])")
    close_token = b"</" + tag + b">"
    limit = end - start
    # Read a tag-width margin past the range end so an open tag whose start
    # is in-range but whose bytes straddle the edge is fully visible (the
    # reference's cross-buffer tag handling, libhdfsconnector.cpp:285-303).
    margin = len(tag) + 2

    with open_input(path) as f:
        f.seek(start)
        data = f.read(limit + margin)
        eof = len(data) < limit + margin

        def _extend() -> bool:
            nonlocal data, eof
            if eof:
                return False
            chunk = f.read(read_chunk)
            if not chunk:
                eof = True
                return False
            data += chunk
            return True

        # Ownership rule: this split owns every element whose open tag
        # STARTS in [start, end).  Keep extending until the last owned
        # element closes inside `data` (read-past-end,
        # libhdfsconnector.cpp:312-343).
        while True:
            cands = [m.start() for m in open_pat.finditer(data) if m.start() < limit]
            if not cands:
                break
            if _element_end(data, cands[-1], close_token) is not None:
                break
            if not _extend():
                raise ValueError(
                    f"{path}: unclosed <{row_tag}> element at byte "
                    f"{start + cands[-1]} (malformed input; the reference "
                    "would silently truncate here — we refuse)"
                )

        prev_end: int | None = None
        for mstart in cands:
            end_pos = _element_end(data, mstart, close_token)
            if end_pos is None:  # pragma: no cover - guarded above
                raise ValueError(f"{path}: unclosed <{row_tag}> element")
            if strict_allowed is not None and prev_end is not None and mstart > prev_end:
                _check_gap(
                    data[prev_end:mstart], strict_allowed, path,
                    start + prev_end, row_tag,
                )
            prev_end = end_pos
            yield data[mstart:end_pos]

        if strict_allowed is None or prev_end is None:
            return
        # The gap after the last owned record runs to the next split's
        # first record.  Checking it here checks every gap between two
        # records in exactly one split, whatever the split size.
        nxt = open_pat.search(data, prev_end)
        while nxt is None and _extend():
            nxt = open_pat.search(data, prev_end)
        if nxt is not None:
            _check_gap(
                data[prev_end : nxt.start()], strict_allowed, path,
                start + prev_end, row_tag,
            )


def _element_end(data: bytes, start: int, close_token: bytes) -> int | None:
    """End offset (exclusive) of the element opening at ``start``; None if
    it does not close within ``data``."""
    gt = data.find(b">", start)
    if gt < 0:
        return None
    if data[gt - 1 : gt] == b"/":  # self-closing <Row/>
        return gt + 1
    close = data.find(close_token, gt)
    if close < 0:
        return None
    return close + len(close_token)


def _cast_series(s: pd.Series, ft, typ: pa.DataType) -> pd.Series:
    import decimal

    if ft.kind == "string":
        return s
    if ft.kind == "real":
        return pd.to_numeric(s, errors="coerce").astype(
            "float32" if ft.nbytes == 4 else "float64"
        )
    if ft.kind == "boolean":
        return s.str.lower().isin(["true", "1", "yes"])
    if ft.kind == "unsigned" and ft.nbytes == 8:
        return s.map(lambda v: decimal.Decimal(v) if v is not None else None)
    if ft.kind == "decimal":
        q = decimal.Decimal(1).scaleb(-ft.scale)
        return s.map(
            lambda v: decimal.Decimal(v).quantize(q) if v is not None else None
        )
    if ft.kind in ("unsigned", "integer"):
        return pd.to_numeric(s, errors="raise").astype(typ.to_pandas_dtype())
    raise NotImplementedError(f"XML does not carry {ft.kind} fields")


def _etree_row(raw: bytes, names: list[str]) -> list:
    elem = ElementTree.fromstring(raw)
    out = []
    for n in names:
        child = elem.find(n)
        if child is not None:
            out.append(child.text if child.text is not None else "")
        else:
            out.append(elem.get(n))
    return out


def _parse_batch(
    elements: list[bytes], layout: Layout, row_tag: str = "Row"
) -> pa.RecordBatch:
    """Vectorized fast path + etree fallback.

    Flat scalar rows (``<Row><a>1</a>…</Row>``) decode with ONE compiled
    regex extract per field over the whole batch (pandas ``str.extract``,
    C-loop) — measured >3× over per-element ``ElementTree.fromstring``.
    Rows the fast path cannot prove simple — entities (``&…;``), CDATA,
    attributes (on the row tag or a field tag), or markup nested inside a
    field value — fall back to etree individually, so the output is
    bit-identical to the etree-only parser on every input.
    """
    names = layout.names()
    texts = [e.decode("utf-8") for e in elements]
    n_rows = len(texts)
    # NOTE: compiled-pattern loops over a plain list, not pandas ``.str``
    # accessors — those run the same per-element regex through ~3× of
    # object-array wrapper overhead (measured).
    # entities / CDATA / attributes on the row tag → per-row etree
    gpat = re.compile(rf"&|<!\[|<{re.escape(row_tag)}\s")
    needs = [gpat.search(t) is not None for t in texts]
    cols: dict[str, list] = {}
    for n in names:
        esc = re.escape(n)
        pat = re.compile(rf"<{esc}>(.*?)</{esc}>", re.S)
        prefix, sc_token = f"<{n}", f"<{n}/>"
        vals: list = [None] * n_rows
        for i, t in enumerate(texts):
            m = pat.search(t)
            if m is not None:
                v = m.group(1)
                if "<" in v:
                    # markup inside a value could shadow a same-named
                    # nested tag — let etree disambiguate
                    needs[i] = True
                vals[i] = v
            elif prefix in t:
                if sc_token in t:
                    vals[i] = ""  # exact self-closing form
                else:
                    # attributes / whitespace / unclosed → etree decides
                    needs[i] = True
        cols[n] = vals
    if any(needs):
        for i, flagged in enumerate(needs):
            if flagged:
                for n, v in zip(names, _etree_row(elements[i], names)):
                    cols[n][i] = v
    pdf = pd.DataFrame({n: pd.Series(cols[n], dtype=object) for n in names})
    schema = layout.arrow_schema()
    for n, ft in layout.fields:
        pdf[n] = _cast_series(pdf[n], ft, schema.field(n).type)
    return pa.RecordBatch.from_pandas(pdf, schema=schema, preserve_index=False)


def _read_split(
    layout: Layout,
    row_tag: str,
    read_chunk: int,
    strict_allowed: frozenset[str] | None,
    part: XmlSplit,
) -> Iterator[pa.RecordBatch]:
    """Parse the records one byte range owns into Arrow batches."""
    batch: list[bytes] = []
    for elem in _scan_elements(
        part.path, part.start, part.end, row_tag, read_chunk,
        strict_allowed=strict_allowed,
    ):
        batch.append(elem)
        if len(batch) >= _PARSE_BATCH:
            yield _parse_batch(batch, layout, row_tag)
            batch = []
    if batch:
        yield _parse_batch(batch, layout, row_tag)


def read_xml(
    spark: SparkSession,
    path: str,
    layout: Layout,
    row_tag: str = "Row",
    max_partition_bytes: int | None = None,
    read_chunk: int = _READ_CHUNK,
    strict: bool = True,
) -> DataFrame:
    """PipeIn(XML) analogue (``ecl/HDFSConnector.ecl:59-99``; default row
    tag ``Row`` per ``hdfsconnector.hpp:224``).  ``read_chunk`` is the
    read-ahead buffer (the reference's ``-buffsize``,
    ``hdfsconnector.hpp:210``).  ``row_tag`` may be a path
    (``'Dataset/Area/Row'``) — the wrapper elements are then the only tags
    allowed between records under ``strict`` mode (the reference's
    unexpected-tag abort, raised instead of silently truncated).

    Each file is cut into byte ranges of at most ``max_partition_bytes``.
    Left unset, it is sized from the input like Spark's ``maxSplitBytes``:
    ``min(64 MiB, max(1 MiB, ceil(total input bytes / defaultParallelism)))``
    (:func:`default_split_bytes`), so a small input still fills the cores.
    """
    wrappers, tag = split_row_path(row_tag)
    files = list_part_files(path, pattern="*")
    if max_partition_bytes is None:
        total = sum(file_size(p) for p in files)
        max_partition_bytes = default_split_bytes(
            total, spark.sparkContext.defaultParallelism
        )
    read = functools.partial(
        _read_split, layout, tag, read_chunk, frozenset(wrappers) if strict else None
    )
    return scan_splits(
        spark, plan_xml_splits(files, max_partition_bytes), read,
        layout.to_struct_type(),
    )


def write_xml(
    df: DataFrame,
    path: str,
    row_path: str = "Dataset/Row",
    overwrite: bool = True,
    header_text: str | None = None,
    footer_text: str | None = None,
) -> list[_sink.PartInfo]:
    """Row-tag XML writer (engine extension — see module docstring).

    ``row_path`` is the full xpath: wrappers synthesized per ``xpath2xml``;
    default header/footer ``<Dataset>``/``</Dataset>`` matches
    ``hdfsconnector.hpp:229-230``, overridable via ``header_text`` /
    ``footer_text`` (the reference's ``-headertext``/``-footertext``,
    ``hdfsconnector.hpp:353-360``).  Each part file is a complete XML
    document; for a single file, coalesce first or merge with
    :func:`h2h_spark.sources.merge.merge_parts` semantics.
    """
    wrappers, row_tag = split_row_path(row_path)
    header, footer = xpath_to_wrappers(wrappers)
    if header_text is not None:
        header = header_text
    if footer_text is not None:
        footer = footer_text
    columns = df.columns

    def _serialize(batch: pa.RecordBatch) -> bytes:
        pdf = batch.to_pandas()
        line = pd.Series([f"<{row_tag}>"] * len(pdf))
        for c in columns:
            vals = pdf[c]
            text = vals.map(
                lambda v: "" if v is None else _xml_escape(_to_text(v))
            )
            field = "<" + c + ">" + text + "</" + c + ">"
            field = field.where(~vals.isna(), "")
            line = line + field
        line = line + f"</{row_tag}>\n"
        return "".join(line.tolist()).encode("utf-8")

    return _sink.write_partition_files(
        df,
        path,
        _serialize,
        header=(header + "\n").encode("utf-8"),
        footer=(footer + "\n").encode("utf-8"),
        overwrite=overwrite,
        suffix=".xml",
    )


def _to_text(v) -> str:
    if isinstance(v, float):
        # repr(float(v)) is the shortest round-trip form; plain repr of a
        # numpy scalar would render as 'np.float64(…)' under numpy>=2.
        return repr(float(v))
    if isinstance(v, bytes):
        return v.decode("latin-1")
    return str(v)
