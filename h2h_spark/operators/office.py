"""Office-document text extraction — the OOXML tier of a training-data
pipeline.  A ``.docx`` is a ZIP container (ECMA-376 Office Open XML)
whose main document part is ``word/document.xml``; the text lives in
``w:t`` runs grouped into ``w:p`` paragraphs.  Extraction composes the
engine's ZIP machinery (central-directory read + CRC-verified member
inflate, ``sources/zipsrc.py``) with a namespace-aware ElementTree walk
— one task per batch of files, blobs never shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

_W_NS = (
    "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
)

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.main'
    '+xml"/></Types>'
)

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/></Relationships>'
)


def write_docx(path: str, paragraphs: Sequence[str]) -> None:
    """Fixture/test writer: a minimal but structurally real ECMA-376
    document (content types, package rels, one document part).
    Deterministic: pinned timestamps, sorted member order."""
    import zipfile
    from xml.sax.saxutils import escape

    body = "".join(
        f"<w:p><w:r><w:t>{escape(p)}</w:t></w:r></w:p>"
        for p in paragraphs
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + body + "</w:body></w:document>"
    )
    pinned = (2024, 1, 1, 0, 0, 0)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (
            ("[Content_Types].xml", _CONTENT_TYPES),
            ("_rels/.rels", _RELS),
            ("word/document.xml", doc),
        ):
            info = zipfile.ZipInfo(name, date_time=pinned)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)


def extract_docx_text(data: bytes) -> tuple[list[str], int]:
    """Parse one in-memory .docx: returns ``(paragraph_texts,
    n_words)``.  Loud on a missing document part or malformed XML —
    never a silently empty document."""
    import io
    import zipfile
    from xml.etree import ElementTree

    try:
        z = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as e:
        raise ValueError(f"not a ZIP/OOXML container: {e}") from None
    try:
        xml = z.read("word/document.xml")
    except KeyError:
        raise ValueError(
            "no word/document.xml part — not a .docx document"
        ) from None
    root = ElementTree.fromstring(xml)
    paragraphs: list[str] = []
    n_words = 0
    for p in root.iter(f"{_W_NS}p"):
        text = "".join(t.text or "" for t in p.iter(f"{_W_NS}t"))
        paragraphs.append(text)
        n_words += len(text.split())
    return paragraphs, n_words


def docx_stats(spark: SparkSession, path: str) -> DataFrame:
    """One row per ``.docx`` under ``path``: ``(file, n_paragraphs,
    n_words, text_bytes, text_md5)`` where the text is the
    newline-joined paragraphs (the corpus-ingest form).  Distributed
    one-task-per-file-batch; documents never shuffle as blobs."""
    from h2h_spark.sources.util import list_part_files

    files = sorted(list_part_files(path, pattern="*.docx"))
    if not files:
        raise ValueError(f"no .docx files under {path}")
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), 64))

    def _run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                data = open(f, "rb").read()
                paragraphs, n_words = extract_docx_text(data)
                text = "\n".join(paragraphs).encode("utf-8")
                rows.append((
                    f, len(paragraphs), n_words, len(text),
                    hashlib.md5(text).hexdigest(),
                ))
            yield pd.DataFrame(
                rows, columns=["file", "n_paragraphs", "n_words",
                               "text_bytes", "text_md5"],
            )

    return fdf.mapInPandas(
        _run,
        "file string, n_paragraphs bigint, n_words bigint, "
        "text_bytes bigint, text_md5 string",
    )


# ---------------------------------------------------------------------------
# PDF metadata — the cross-reference walk (ISO 32000-1 §7.5: header,
# xref table or PDF 1.5+ cross-reference STREAM, trailer dictionary;
# page tree via /Root → /Pages → /Count).  The pre-OCR triage step of a
# document-ingest pipeline: version / page count / encryption flag
# WITHOUT parsing content streams.  Both reference layouts are
# supported: the classic ASCII table, and compressed xref streams
# (/Type /XRef, /W field widths, optional PNG predictors per §7.4.4.4)
# with type-2 entries resolved through object streams (/Type /ObjStm,
# §7.5.7).  Unsupported filters / predictors / indirect /Length fail
# loudly, never silently guessed.
# ---------------------------------------------------------------------------


def build_pdf(
    n_pages: int,
    version: str = "1.4",
    encrypted: bool = False,
) -> bytes:
    """Fixture/test builder: a structurally valid classic-xref PDF with
    a real page tree, as bytes.  Content streams are empty (metadata
    fixture)."""
    import io

    buf = io.BytesIO()
    offsets: list[int] = []

    def obj(body: str) -> None:
        offsets.append(buf.tell())
        num = len(offsets)
        buf.write(f"{num} 0 obj\n{body}\nendobj\n".encode())

    buf.write(f"%PDF-{version}\n".encode())
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    obj(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>")
    for _ in range(n_pages):
        obj("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>")
    if encrypted:
        obj("<< /Filter /Standard /V 1 /R 2 /P -44 >>")
    xref_off = buf.tell()
    n = len(offsets) + 1
    buf.write(f"xref\n0 {n}\n".encode())
    buf.write(b"0000000000 65535 f \n")
    for off in offsets:
        buf.write(f"{off:010d} 00000 n \n".encode())
    trailer = f"<< /Size {n} /Root 1 0 R"
    if encrypted:
        trailer += f" /Encrypt {len(offsets)} 0 R"
    trailer += " >>"
    buf.write(
        f"trailer\n{trailer}\nstartxref\n{xref_off}\n%%EOF\n".encode()
    )
    return buf.getvalue()


def write_pdf(
    path: str,
    n_pages: int,
    version: str = "1.4",
    encrypted: bool = False,
) -> None:
    with open(path, "wb") as f:
        f.write(build_pdf(n_pages, version, encrypted))


def _pack_xref_row(t: int, f2: int, f3: int) -> bytes:
    """One W=[1 4 2] cross-reference-stream row (§7.5.8.3)."""
    import struct

    return struct.pack(">BIH", t, f2, f3)


def build_pdf_xrefstream(
    n_pages: int,
    version: str = "1.5",
    predictor: int = 1,
    encrypted: bool = False,
) -> bytes:
    """Fixture/test builder: a structurally valid PDF 1.5+ file whose
    catalog / page-tree / page objects are packed into a FlateDecode
    OBJECT STREAM (/Type /ObjStm, §7.5.7) and whose cross-reference is
    a /Type /XRef STREAM with W [1 4 2] — type-2 entries for the
    compressed objects, type-1 for the objstm / xref stream themselves
    (and the /Encrypt dictionary, which §7.5.8.2 forbids inside an
    objstm).  ``predictor=12`` applies the PNG Up predictor to the
    xref rows (the layout real-world writers emit)."""
    import io
    import zlib

    n_inline = 2 + n_pages
    enc_num = n_inline + 1 if encrypted else None
    objstm_num = n_inline + (2 if encrypted else 1)
    xref_num = objstm_num + 1
    size = xref_num + 1

    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    inline = [
        (1, "<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"),
    ] + [
        (3 + i, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>")
        for i in range(n_pages)
    ]
    header_pairs: list[str] = []
    body = io.BytesIO()
    for num, obj in inline:
        header_pairs.append(f"{num} {body.tell()}")
        body.write(obj.encode() + b" ")
    head_s = (" ".join(header_pairs) + " ").encode()
    stm_z = zlib.compress(head_s + body.getvalue())

    buf = io.BytesIO()
    buf.write(f"%PDF-{version}\n".encode())
    enc_off = 0
    if encrypted:
        enc_off = buf.tell()
        buf.write(
            f"{enc_num} 0 obj\n<< /Filter /Standard /V 1 /R 2 /P -44 "
            f">>\nendobj\n".encode()
        )
    objstm_off = buf.tell()
    buf.write(
        f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {n_inline} "
        f"/First {len(head_s)} /Filter /FlateDecode "
        f"/Length {len(stm_z)} >>\nstream\n".encode()
    )
    buf.write(stm_z)
    buf.write(b"\nendstream\nendobj\n")

    xref_off = buf.tell()
    rows = [_pack_xref_row(0, 0, 65535)]
    for idx, (num, _) in enumerate(inline):
        rows.append(_pack_xref_row(2, objstm_num, idx))
    if encrypted:
        rows.append(_pack_xref_row(1, enc_off, 0))
    rows.append(_pack_xref_row(1, objstm_off, 0))
    rows.append(_pack_xref_row(1, xref_off, 0))
    payload = b"".join(rows)
    parms = ""
    if predictor >= 10:
        # PNG Up (tag 2) per row, byte-wise minus the prior row.
        row_len = 7
        out = bytearray()
        prev = bytes(row_len)
        for i in range(0, len(payload), row_len):
            row = payload[i:i + row_len]
            out.append(2)
            out += bytes((row[j] - prev[j]) & 0xFF for j in range(row_len))
            prev = row
        payload = bytes(out)
        parms = f" /DecodeParms << /Predictor {predictor} /Columns 7 >>"
    xz = zlib.compress(payload)
    xdict = (
        f"<< /Type /XRef /Size {size} /W [1 4 2] /Root 1 0 R"
        + (f" /Encrypt {enc_num} 0 R" if encrypted else "")
        + f" /Filter /FlateDecode{parms} /Length {len(xz)} >>"
    )
    buf.write(f"{xref_num} 0 obj\n{xdict}\nstream\n".encode())
    buf.write(xz)
    buf.write(b"\nendstream\nendobj\n")
    buf.write(f"startxref\n{xref_off}\n%%EOF\n".encode())
    return buf.getvalue()


def _scan_pdf_dict(data: bytes, pos: int) -> tuple[bytes, int]:
    """Return the balanced ``<< ... >>`` dictionary starting at/after
    ``pos`` (nested dictionaries handled) and the end offset."""
    start = data.index(b"<<", pos)
    depth = 0
    i = start
    n = len(data)
    while i < n:
        two = data[i:i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return data[start:i], i
        else:
            i += 1
    raise ValueError("unterminated PDF dictionary")


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Reverse PNG row predictors (filters 0-4) for Colors=1 / 8-bit
    rows of ``columns`` bytes — the §7.4.4.4 LZW/Flate predictor
    wrapping used by cross-reference streams."""
    stride = columns + 1
    if len(data) % stride:
        raise ValueError(
            f"predicted stream length {len(data)} is not a multiple of "
            f"Columns+1 ({stride})"
        )
    out = bytearray()
    prev = bytes(columns)
    for base in range(0, len(data), stride):
        ft = data[base]
        row = bytearray(data[base + 1:base + stride])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ft == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG predictor filter tag {ft}")
        out += row
        prev = bytes(row)
    return bytes(out)


def _decode_pdf_stream(dct: bytes, raw: bytes) -> bytes:
    """Decode one PDF stream body given its dictionary: FlateDecode (or
    no filter) plus optional PNG predictors.  Anything else is a loud
    error naming the unsupported feature."""
    import re as _re
    import zlib

    fm = _re.search(rb"/Filter\s*/(\w+)", dct)
    if fm and fm.group(1) != b"FlateDecode":
        raise ValueError(
            f"unsupported stream /Filter /{fm.group(1).decode()} — only "
            "FlateDecode (and unfiltered) streams are decoded"
        )
    data = zlib.decompress(raw) if fm else raw
    pm = _re.search(rb"/Predictor\s+(\d+)", dct)
    if not pm:
        return data
    pred = int(pm.group(1))
    if pred == 1:
        return data
    if not 10 <= pred <= 15:
        raise ValueError(f"unsupported /Predictor {pred} (TIFF/unknown)")
    for key, default in ((rb"/Colors\s+(\d+)", 1),
                         (rb"/BitsPerComponent\s+(\d+)", 8)):
        km = _re.search(key, dct)
        if km and int(km.group(1)) != default:
            raise ValueError(
                "only Colors=1 / BitsPerComponent=8 predictor streams "
                "are supported for cross-reference data"
            )
    cm = _re.search(rb"/Columns\s+(\d+)", dct)
    return _png_unpredict(data, int(cm.group(1)) if cm else 1)


def _read_pdf_stream_obj(
    data: bytes, off: int, resolve=None
) -> tuple[bytes, bytes]:
    """Parse ``N G obj << dict >> stream ... endstream`` at ``off``;
    returns ``(dict_bytes, raw_stream_bytes)``.  An indirect /Length is
    resolved through ``resolve(obj_num) -> int`` when given (legal for
    content/object streams); without a resolver it is a loud error —
    and the SPEC requires the xref stream's own /Length to be direct,
    so that call site never passes one."""
    import re as _re

    if not _re.match(rb"\d+\s+\d+\s+obj", data[off:off + 40]):
        raise ValueError(f"no indirect object at offset {off}")
    dct, p = _scan_pdf_dict(data, off)
    ind = _re.search(rb"/Length\s+(\d+)\s+\d+\s+R", dct)
    if ind:
        if resolve is None:
            raise ValueError("indirect /Length in a stream dictionary "
                             "is not supported here")
        length = int(resolve(int(ind.group(1))))
        lm = None
    else:
        lm = _re.search(rb"/Length\s+(\d+)", dct)
        if not lm:
            raise ValueError("stream dictionary missing /Length")
        length = int(lm.group(1))
    sm = _re.compile(rb"stream(\r\n|\n|\r)").search(data, p)
    if not sm or sm.start() > p + 32:
        raise ValueError("no 'stream' keyword after dictionary")
    s0 = sm.end()
    raw = data[s0:s0 + length]
    if len(raw) < length:
        raise ValueError("truncated stream body")
    return dct, raw


def _parse_xref_stream_at(
    data: bytes,
    off: int,
    offsets: dict[int, int],
    compressed: dict[int, tuple[int, int]],
) -> bytes:
    """Parse one /Type /XRef stream: merge its entries into
    ``offsets`` (type 1) / ``compressed`` (type 2), NEWEST-WINS (the
    caller walks the /Prev chain newest → oldest).  Returns the stream
    dictionary (the trailer of a 1.5+ file)."""
    import re as _re

    dct, raw = _read_pdf_stream_obj(data, off)
    if b"/XRef" not in dct:
        raise ValueError(
            "startxref target is neither an ASCII 'xref' table nor a "
            "/Type /XRef stream"
        )
    content = _decode_pdf_stream(dct, raw)
    wm = _re.search(rb"/W\s*\[([^\]]*)\]", dct)
    szm = _re.search(rb"/Size\s+(\d+)", dct)
    if not wm or not szm:
        raise ValueError("xref stream missing /W or /Size")
    widths = [int(x) for x in wm.group(1).split()]
    if len(widths) != 3:
        raise ValueError(f"/W must have 3 field widths, got {widths}")
    size = int(szm.group(1))
    im = _re.search(rb"/Index\s*\[([^\]]*)\]", dct)
    index = ([int(x) for x in im.group(1).split()] if im else [0, size])
    if len(index) % 2:
        raise ValueError("/Index must hold (start, count) pairs")
    rw = sum(widths)
    pos = 0
    for k in range(0, len(index), 2):
        start, count = index[k], index[k + 1]
        for i in range(count):
            row = content[pos:pos + rw]
            pos += rw
            if len(row) < rw:
                raise ValueError("truncated cross-reference stream")
            fields = []
            o = 0
            for w in widths:
                fields.append(int.from_bytes(row[o:o + w], "big"))
                o += w
            t = fields[0] if widths[0] else 1
            num = start + i
            if num in offsets or num in compressed:
                continue  # a newer section already defined this object
            if t == 1:
                offsets[num] = fields[1]
            elif t == 2:
                compressed[num] = (fields[1], fields[2])
            elif t != 0:
                raise ValueError(f"unknown xref entry type {t}")
    return dct


def _parse_xref_table_at(
    data: bytes, off: int, offsets: dict[int, int]
) -> bytes:
    """Parse one classic ASCII xref table at ``off`` (newest-wins merge
    into ``offsets``); returns the trailer dictionary bytes."""
    pos = data.index(b"\n", off) + 1
    while not data[pos:pos + 7].startswith(b"trailer"):
        line_end = data.index(b"\n", pos)
        head = data[pos:line_end].split()
        if len(head) != 2:
            raise ValueError(f"malformed xref section header at {pos}")
        start, count = int(head[0]), int(head[1])
        pos = line_end + 1
        for i in range(count):
            entry = data[pos:pos + 20]
            if len(entry) < 18:
                raise ValueError("truncated xref entry")
            if entry[17:18] == b"n" and start + i not in offsets:
                offsets[start + i] = int(entry[:10])
            pos += 20
    dct, _ = _scan_pdf_dict(data, pos)
    return dct


def parse_pdf_meta(data: bytes) -> dict:
    """Cross-reference metadata walk: header version, %%EOF check,
    startxref → xref table OR PDF 1.5+ /Type /XRef stream (FlateDecode
    + PNG predictors; /Prev incremental-update chains newest-wins;
    type-2 entries resolved through /Type /ObjStm object streams) →
    trailer (/Size, /Encrypt), page count by RESOLVING /Root → /Pages
    → /Count (no content parse).  Returns ``{version, n_objects,
    n_pages, encrypted, xref_type}``."""
    import re as _re

    m = _re.match(rb"%PDF-(\d+\.\d+)", data)
    if not m:
        raise ValueError("not a PDF (header missing)")
    version = m.group(1).decode("ascii")
    if b"%%EOF" not in data[-1024:]:
        raise ValueError("missing %%EOF marker in the last 1024 bytes")
    sx = data.rfind(b"startxref")
    if sx < 0:
        raise ValueError("missing startxref")
    xref_off = int(data[sx + 9:sx + 40].split()[0])

    offsets: dict[int, int] = {}
    compressed: dict[int, tuple[int, int]] = {}
    trailer = b""
    xref_type = ""
    seen: set[int] = set()
    next_off: int | None = xref_off
    while next_off is not None:
        if next_off in seen:
            raise ValueError("cyclic /Prev chain in cross-reference data")
        seen.add(next_off)
        if data[next_off:next_off + 4] == b"xref":
            dct = _parse_xref_table_at(data, next_off, offsets)
            this_type = "table"
            # hybrid-reference file: merge the 1.5 sidecar stream too
            xs = _re.search(rb"/XRefStm\s+(\d+)", dct)
            if xs:
                _parse_xref_stream_at(
                    data, int(xs.group(1)), offsets, compressed
                )
        else:
            dct = _parse_xref_stream_at(
                data, next_off, offsets, compressed
            )
            this_type = "stream"
        if not trailer:
            trailer = dct
            xref_type = this_type
        pv = _re.search(rb"/Prev\s+(\d+)", dct)
        next_off = int(pv.group(1)) if pv else None

    sz = _re.search(rb"/Size\s+(\d+)", trailer)
    root = _re.search(rb"/Root\s+(\d+)\s+\d+\s+R", trailer)
    if not sz or not root:
        raise ValueError("trailer missing /Size or /Root")
    encrypted = b"/Encrypt" in trailer

    def _resolve_int(num: int) -> int:
        """Value of an integer object (for indirect /Length)."""
        if num not in offsets:
            raise ValueError(
                f"/Length object {num} not in the xref data"
            )
        body = data[offsets[num]:data.index(b"endobj", offsets[num])]
        m2 = _re.search(rb"obj\s*(\d+)", body)
        if not m2:
            raise ValueError(
                f"object {num} referenced as /Length is not an integer"
            )
        return int(m2.group(1))

    def load(num: int) -> bytes:
        if num in offsets:
            off = offsets[num]
            end = data.index(b"endobj", off)
            return data[off:end]
        if num in compressed:
            stm_num, idx = compressed[num]
            if stm_num not in offsets:
                raise ValueError(
                    f"object stream {stm_num} missing from the xref data"
                )
            sdct, raw = _read_pdf_stream_obj(
                data, offsets[stm_num], resolve=_resolve_int
            )
            if b"/ObjStm" not in sdct:
                raise ValueError(
                    f"type-2 entry points at object {stm_num} which is "
                    "not a /Type /ObjStm"
                )
            nm = _re.search(rb"/N\s+(\d+)", sdct)
            fm = _re.search(rb"/First\s+(\d+)", sdct)
            if not nm or not fm:
                raise ValueError("object stream missing /N or /First")
            n, first = int(nm.group(1)), int(fm.group(1))
            content = _decode_pdf_stream(sdct, raw)
            head = content[:first].split()
            if len(head) < 2 * n:
                raise ValueError("object stream header shorter than /N")
            if idx >= n:
                raise ValueError(
                    f"type-2 index {idx} out of range for /N {n}"
                )
            onum, ooff = int(head[2 * idx]), int(head[2 * idx + 1])
            if onum != num:
                raise ValueError(
                    f"object stream header says object {onum} at index "
                    f"{idx}, xref said {num}"
                )
            end = (int(head[2 * idx + 3])
                   if idx + 1 < n else len(content) - first)
            return content[first + ooff:first + end]
        raise ValueError(f"object {num} not in the xref data")

    catalog = load(int(root.group(1)))
    pm = _re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", catalog)
    if not pm:
        raise ValueError("catalog has no /Pages")
    pages = load(int(pm.group(1)))
    cm = _re.search(rb"/Count\s+(\d+)", pages)
    if not cm:
        raise ValueError("page tree has no /Count")
    return {
        "version": version,
        "n_objects": int(sz.group(1)) - 1,
        "n_pages": int(cm.group(1)),
        "encrypted": encrypted,
        "xref_type": xref_type,
    }


def pdf_stats(df: "DataFrame", id_col: str, data_col: str = "data"):
    """PDF metadata columns for a binary column."""
    from h2h_spark.operators.multimodal import header_stats

    return header_stats(
        df, id_col, data_col, parse_pdf_meta,
        "version string, n_objects bigint, n_pages bigint, "
        "encrypted boolean, xref_type string",
    )
