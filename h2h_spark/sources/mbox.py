"""mbox scan — the Unix mail-archive format (RFC 4155), a real corpus
wire format (mailing-list and mail-dump datasets ship as mbox).

Messages are framed by ``From `` separator lines (the RFC 4155 mboxo
framing: a line beginning ``From `` starts a new message; body lines
that begin with ``From`` are ``>From``-escaped by writers — mboxrd
quoting, which this reader REVERSES when materializing the body so
``body_bytes``/``body_md5`` describe the true message text, not the
on-disk escaped form).  That makes mbox splittable with the engine's
candidate-scan-then-validate discipline (the WARC/FLAT realignment
contract, ``libhdfsconnector.cpp:76-96``):

- the planner cuts plain byte ranges;
- a task whose range starts mid-file scans for ``\\nFrom `` and
  VALIDATES the candidate: the envelope line must carry an
  asctime-style date (``From addr Thu Jan  1 00:00:00 2026`` — the
  RFC 4155 postmark shape), or failing that TWO consecutive RFC 5322
  header lines (``field-name:``) must follow — an unescaped ``From ``
  inside a prose body (even one followed by a colon-bearing line like
  ``Note: ...``) costs one failed validation, never a desync;
- a message belongs to the task whose separator starts in range; the
  body may extend past the range end (read-past-range, never
  double-emitted).

Both LF and CRLF line endings are handled (the header/body boundary is
the earlier of ``\\n\\n`` and ``\\r\\n\\r\\n``).  Memory per task is
O(chunk + one message).
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from h2h_spark.sources.util import (
    ByteRange,
    file_size,
    list_part_files,
    open_input,
    plan_byte_ranges,
    record_batches,
    scan_splits,
)

_SEP = b"\nFrom "
_CHUNK = 1 << 20
_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_MAX_HEADER = 64 * 1024  # bound on one header block
# RFC 5322 field-name: printable US-ASCII except colon, then ':'
_HDR_RE = re.compile(rb"^[!-9;-~]+:")
# asctime-style date inside the RFC 4155 envelope ("postmark") line:
# "From addr Thu Jan  1 00:00:00 2026" — the strong separator signal
_CTIME_RE = re.compile(
    rb"(Mon|Tue|Wed|Thu|Fri|Sat|Sun) +"
    rb"(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) +\d{1,2} +"
    rb"\d{1,2}:\d{2}(:\d{2})? +\d{4}"
)
# mboxrd body quoting: writers prepend '>' to any '^>*From ' line;
# readers strip exactly one '>' from any '^>+From ' line
_QUOTABLE_RE = re.compile(rb"^>*From ")
_UNQUOTE_RE = re.compile(rb"(?m)^>(>*From )")


def _unescape_body(body: bytes) -> bytes:
    """Reverse mboxrd quoting: strip one leading ``>`` from every
    ``>+From `` line so consumers see the true message text."""
    if b">From " not in body:
        return body
    return _UNQUOTE_RE.sub(rb"\1", body)


def write_mbox(
    path: str, messages: Sequence[tuple[str, dict, bytes]]
) -> None:
    """Fixture/test writer: ``(envelope_sender_and_date, headers,
    body)`` per message.  Body lines starting with ``From`` are
    ``>``-escaped (mboxrd-style) so the framing stays unambiguous."""
    with open(path, "wb") as f:
        for env, headers, body in messages:
            f.write(b"From " + env.encode() + b"\n")
            for k, v in headers.items():
                f.write(f"{k}: {v}\n".encode())
            f.write(b"\n")
            for line in body.split(b"\n"):
                if _QUOTABLE_RE.match(line):
                    f.write(b">" + line + b"\n")
                else:
                    f.write(line + b"\n")


def _parse_headers(block: bytes) -> dict[str, str]:
    """Parse one header block (bytes up to the blank line), unfolding
    continuation lines (leading whitespace)."""
    headers: dict[str, str] = {}
    last = None
    for line in block.split(b"\n"):
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("utf-8", "replace")
            continue
        m = _HDR_RE.match(line)
        if not m:
            last = None
            continue
        k = line[: m.end() - 1].decode("ascii", "replace").lower()
        headers[k] = line[m.end():].strip().decode("utf-8", "replace")
        last = k
    return headers


class _MboxScanner:
    """Stream messages whose separator line starts in [start, end)."""

    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.size = file_size(path)
        self.start = start
        self.end = end

    def _validated(self, buf: bytes, at: int) -> bool:
        """True iff the ``From `` line at ``at`` is a credible RFC 4155
        separator — the resync guard.  Strong signal: the envelope line
        carries an asctime-style date (the RFC 4155 postmark shape) AND
        a header line follows.  Fallback (odd envelopes): TWO
        consecutive RFC 5322 header lines, or one header line
        immediately closed by the blank line.  A prose body line like
        ``From x\\nNote: ...\\nmore prose`` fails both."""
        eol = buf.find(b"\n", at)
        if eol < 0:
            return False
        lines = buf[eol + 1:eol + 1 + 2048].split(b"\n", 2)
        if not _HDR_RE.match(lines[0]):
            return False
        if _CTIME_RE.search(buf[at:eol]):
            return True
        second = lines[1].rstrip(b"\r") if len(lines) > 1 else b""
        return second == b"" or bool(_HDR_RE.match(second))

    def messages(self) -> Iterator[tuple[int, str, dict, bytes]]:
        with open_input(self.path) as f:
            # load the scan window lazily: seek a little before start so a
            # separator straddling the cut is still seen
            pos = max(0, self.start - len(_SEP))
            f.seek(pos)
            buf = b""
            eof = False

            def fill(need_abs: int) -> None:
                nonlocal buf, eof
                while not eof and pos + len(buf) < need_abs:
                    chunk = f.read(_CHUNK)
                    if not chunk:
                        eof = True
                        return
                    buf += chunk

            # align: offset 0 owns a leading "From "; otherwise scan
            if self.start == 0:
                fill(pos + 6)
                own = 0 if buf.startswith(b"From ") else None
                if own is None:
                    raise ValueError(f"{self.path} does not start with 'From '")
            else:
                own = None
                search = 0
                while own is None:
                    fill(pos + search + _CHUNK)
                    idx = buf.find(_SEP, search)
                    if idx < 0:
                        if eof or pos + len(buf) - len(_SEP) >= self.end:
                            return
                        search = max(0, len(buf) - len(_SEP))
                        continue
                    cand = idx + 1  # the 'F'
                    if pos + cand < self.start:
                        # separator inside the lookback window belongs to
                        # the PREVIOUS split (ownership is by start offset)
                        search = idx + 1
                        continue
                    if pos + cand >= self.end:
                        return
                    fill(pos + cand + 1024)
                    if self._validated(buf, cand):
                        own = cand
                    else:
                        search = idx + 1
            # walk messages from `own`
            while pos + own < self.end and pos + own < self.size:
                # find the next validated separator (message end)
                search = own + 1
                nxt = None
                while nxt is None:
                    fill(pos + search + _CHUNK)
                    idx = buf.find(_SEP, search)
                    if idx < 0:
                        if eof:
                            nxt = len(buf)
                            break
                        search = max(own + 1, len(buf) - len(_SEP))
                        continue
                    fill(pos + idx + 1 + 1024)
                    if self._validated(buf, idx + 1):
                        nxt = idx + 1
                    else:
                        search = idx + 1
                msg = buf[own:nxt]
                yield pos + own, *self._split(msg, pos + own)
                if nxt >= len(buf) and eof:
                    return
                # compact consumed bytes
                drop = nxt
                buf = buf[drop:]
                pos += drop
                own = 0

    @staticmethod
    def _split(msg: bytes, at: int) -> tuple[str, dict, bytes]:
        eol = msg.find(b"\n")
        if eol < 0 or not msg.startswith(b"From "):
            raise ValueError(f"malformed mbox separator at offset {at}")
        env = msg[5:eol].decode("utf-8", "replace").rstrip("\r")
        rest = msg[eol + 1:]
        # header/body boundary: the EARLIER of LF-LF and CRLF-CRLF so
        # CRLF-terminated mailboxes keep their bodies (a pure-CRLF file
        # never contains b"\n\n")
        b_lf = rest.find(b"\n\n")
        b_crlf = rest.find(b"\r\n\r\n")
        if b_crlf >= 0 and (b_lf < 0 or b_crlf < b_lf):
            blank, skip = b_crlf, 4
        else:
            blank, skip = b_lf, 2
        if blank < 0:
            headers, body = _parse_headers(rest[:_MAX_HEADER]), b""
        else:
            headers = _parse_headers(rest[:blank])
            body = _unescape_body(rest[blank + skip:])
        return env, headers, body


def scan_mbox_range(
    path: str, start: int, end: int
) -> Iterator[tuple[int, str, dict, bytes]]:
    yield from _MboxScanner(path, start, end).messages()


_SCHEMA = pa.schema([
    ("offset", pa.int64()), ("envelope", pa.string()),
    ("sender", pa.string()), ("subject", pa.string()),
    ("msg_date", pa.string()), ("msg_id", pa.string()),
    ("in_reply_to", pa.string()), ("n_headers", pa.int64()),
    ("body_bytes", pa.int64()), ("body_md5", pa.string()),
])


def _read_split(split: ByteRange) -> Iterator[pa.RecordBatch]:
    yield from record_batches(
        (
            (off, env, headers.get("from", ""), headers.get("subject", ""),
             headers.get("date", ""), headers.get("message-id", ""),
             headers.get("in-reply-to", ""), len(headers), len(body),
             hashlib.md5(body).hexdigest())
            for off, env, headers, body in scan_mbox_range(*split)
        ),
        _SCHEMA,
    )


def read_mbox(
    spark: SparkSession,
    path: str,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> DataFrame:
    splits = plan_byte_ranges(
        list_part_files(path, pattern="*.mbox"), max_partition_bytes
    )
    return scan_splits(spark, splits, _read_split, from_arrow_schema(_SCHEMA))
