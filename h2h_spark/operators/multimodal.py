"""Multimodal (binary) columns (engine extension, SURVEY.md §2.3 E3).

Images / audio / video are opaque ``binary`` payload columns.  Every
operator here is per-row Python — a pixel codec, a container walk, a
header parse — run as one :func:`h2h_spark.operators.per_row` stage: an
input with fewer partitions than the executor pool is spread across it,
then one ``mapInArrow`` calls a row function per input row.  The BMP /
PNG / GIF / JPEG / WAV codecs and the container walkers are real (pure
Python + numpy + zlib); only a decode of arbitrary images needs PIL /
soundfile, and falls back to a deterministic stub where they are not
installed.

Scale notes: payloads stay OUT of shuffle paths — derive features first,
then drop or pass-through the blob; for >2 GB objects store a pointer
(URI) column and fetch lazily inside the decode stage.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import per_row

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, payload_md5 string, width int, height int, decoder string"
)


# ---------------------------------------------------------------------------
# Real container-header parsing — pure Python, no media libraries needed.
# Only PIXEL/SAMPLE transforms remain stubbed (PIL/soundfile absent); the
# metadata fields below are decoded from the actual file structure.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def parse_media_header(payload: bytes) -> dict | None:
    """Decode the container header of a PNG / JPEG / GIF / BMP / WAV blob.

    Returns ``{kind, width, height, n_channels, sample_rate, n_samples,
    duration_ms}`` (irrelevant fields None), or None when the payload is
    not a recognized container.  This is a REAL decode of the file
    structure — signatures, chunk walks, marker walks — not a stub; it is
    what the engine reports for metadata at scale without shipping pixel
    decoders to executors."""
    n = len(payload)
    # PNG: 8-byte signature, then the IHDR chunk (must be first):
    # length(4) 'IHDR' width(4) height(4) bit_depth(1) color_type(1).
    if n >= 24 and payload[:8] == _PNG_SIG and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return _meta("png", width=w, height=h)
    # JPEG: SOI then a marker walk to the first SOF segment
    # (0xC0-0xCF minus DHT/JPG/DAC), which carries height, width.
    if n >= 4 and payload[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= n:
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= n:
                    h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                    return _meta("jpeg", width=w, height=h)
                return None
            i += 2 + seg_len
        return None
    # GIF87a / GIF89a: logical screen width/height, little-endian u16.
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return _meta("gif", width=w, height=h)
    # BMP: 'BM', BITMAPINFOHEADER width/height at byte 18/22 (LE i32).
    if n >= 26 and payload[:2] == b"BM":
        w, h = struct.unpack("<ii", payload[18:26])
        return _meta("bmp", width=w, height=abs(h))
    # WAV: RIFF/WAVE, then a chunk walk for 'fmt ' and 'data'.
    if n >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        i, fmt, data_size = 12, None, None
        while i + 8 <= n:
            cid = payload[i : i + 4]
            (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
            if cid == b"fmt " and i + 24 <= n:
                _, channels, rate = struct.unpack("<HHI", payload[i + 8 : i + 16])
                (bits,) = struct.unpack("<H", payload[i + 22 : i + 24])
                fmt = (channels, rate, bits)
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
        if fmt is None:
            return None
        channels, rate, bits = fmt
        samples = None
        if data_size is not None and channels and bits:
            samples = data_size // (channels * (bits // 8 or 1))
        return _meta(
            "wav",
            n_channels=channels,
            sample_rate=rate,
            n_samples=samples,
            duration_ms=(samples * 1000 // rate if samples is not None and rate else None),
        )
    return None


def _meta(kind: str, **kw) -> dict:
    base = {
        "kind": kind, "width": None, "height": None, "n_channels": None,
        "sample_rate": None, "n_samples": None, "duration_ms": None,
    }
    base.update(kw)
    return base


def synthesize_media(payload_seed: int) -> bytes:
    """Deterministic VALID media bytes from an integer seed — the test
    fixture for pipelines in containers that ship no media files.  Seed
    mod 3 picks the container: a real PNG (signature + CRC-correct IHDR),
    a real WAV (RIFF/fmt/data with PCM bytes), or a real GIF header.  The
    dimensions/rates are fixed arithmetic in the seed so an external
    oracle can recompute what :func:`parse_media_header` must report."""
    k = payload_seed % 3
    if k == 0:  # PNG, width/height from the seed
        w = payload_seed % 512 + 1
        h = (payload_seed * 7) % 512 + 1
        ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
        chunk = b"IHDR" + ihdr
        return (
            _PNG_SIG
            + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
        )
    if k == 1:  # WAV, mono 8-bit PCM
        rate = 8000 + (payload_seed % 8) * 1000
        ns = payload_seed % 100 + 1
        data = bytes((payload_seed * 31 + i * 7) % 256 for i in range(ns))
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate, 1, 8)
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", ns) + data + (b"\x00" if ns & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body
    # GIF89a header + trailer
    w = payload_seed % 256 + 1
    h = (payload_seed * 3) % 256 + 1
    return b"GIF89a" + struct.pack("<HH", w, h) + bytes([0xF0, 0, 0]) + b"\x3b"


def media_meta(df: DataFrame, id_col: str, seed_col: str | None = None) -> DataFrame:
    """Synthesize-then-decode media metadata stage: build real container
    bytes per row (from ``seed_col``, default the id), parse the headers
    back with :func:`parse_media_header`, emit typed metadata.  One
    :func:`~h2h_spark.operators.per_row` stage — blobs are born and die
    inside the task, never shuffled; only the small typed features leave."""
    fields = (
        "kind", "width", "height", "n_channels", "sample_rate", "n_samples",
        "duration_ms",
    )

    def row(rid, *seed):
        m = parse_media_header(synthesize_media(int(seed[0] if seed else rid)))
        yield (rid, *(m[f] if m else None for f in fields))

    cols = [id_col] + ([seed_col] if seed_col and seed_col != id_col else [])
    return per_row(
        df, cols, row,
        "doc_id long, kind string, width int, height int, n_channels int, "
        "sample_rate int, n_samples long, duration_ms long",
    )


def with_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Attach an opaque binary payload + metadata struct (here synthesized
    from text, since the container ships no media files)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit("application/octet-stream").alias("content_type"),
        ).alias("meta"),
    )


def _try_real_decode(payload: bytes) -> tuple[int, int, str]:
    """Dimensions from the REAL container header when the payload is a
    recognized format; PIL if importable; deterministic fake otherwise."""
    meta = parse_media_header(payload)
    if meta is not None and meta["width"] is not None:
        return meta["width"], meta["height"], f"header:{meta['kind']}"
    try:  # pragma: no cover - PIL absent in this container
        import io

        from PIL import Image  # type: ignore

        img = Image.open(io.BytesIO(payload))
        return img.width, img.height, "pillow"
    except Exception:
        # Deterministic fake: derive a plausible (width, height) from the
        # payload hash so downstream plumbing sees realistic variety.
        h = hashlib.md5(payload).digest()
        return 64 + h[0] % 192, 64 + h[1] % 192, "stub"


def decode_features(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature extraction over the payload column as one
    :func:`~h2h_spark.operators.per_row` stage: the blob stays in its
    task; the output is small typed features only.
    """

    def row(rid, payload):
        w, h, decoder = _try_real_decode(payload)
        yield (rid, len(payload), hashlib.md5(payload).hexdigest(), w, h, decoder)

    return per_row(binary_df, [id_col, "payload"], row, DECODE_SCHEMA)


def resize_images(
    binary_df: DataFrame,
    id_col: str,
    width: int,
    height: int,
) -> DataFrame:
    """'Image resize' stage: binary in → binary out through one
    :func:`~h2h_spark.operators.per_row` stage — the schema/batch
    plumbing a real resize needs (without PIL installed the
    pixel transform is STUBBED as a deterministic byte truncation to the
    target budget; swap ``_stub_resize`` for a real decoder+resampler in
    production).  The payload column round-trips python→Arrow→JVM as
    ``binary``, which is the property under test: derived blobs stay
    columnar, never shuffled as strings."""
    budget = width * height

    def _stub_resize(payload: bytes) -> bytes:
        try:  # pragma: no cover - PIL absent in this container
            import io

            from PIL import Image  # type: ignore

            img = Image.open(io.BytesIO(payload)).resize((width, height))
            out = io.BytesIO()
            img.save(out, format="PNG")
            return out.getvalue()
        except Exception:
            return payload[:budget]

    return per_row(
        binary_df, [id_col, "payload"],
        lambda rid, payload: [(rid, width, height, _stub_resize(payload))],
        "doc_id long, width int, height int, resized binary",
    )


def audio_stats(
    binary_df: DataFrame,
    id_col: str = "doc_id",
    sample_rate: int = 8000,
    clip_margin: int = 6,
) -> DataFrame:
    """'Audio' feature stage: treat the payload as unsigned 8-bit PCM
    (center 128) and derive waveform statistics — sample count, duration,
    peak amplitude, mean absolute amplitude, and a clipping count (samples
    within ``clip_margin`` of full scale).  A real pipeline swaps the
    ``np.frombuffer`` for soundfile/ffmpeg decode (absent in this
    container); the Arrow batch shape, numpy vectorization, and
    features-only output schema are the production plumbing.

    Each payload is one numpy pass.  Duration and mean amplitude are
    FIXED-POINT integers (milliseconds / milli-units, floor division):
    fractional features as integers are bit-stable across platforms and
    engines, which keeps distributed equality compares (and the DuckDB
    oracle) exact instead of float-rounding-dependent.
    """
    import numpy as np

    def row(rid, payload):
        samples = np.frombuffer(payload, dtype=np.uint8)
        n = samples.size
        peak = mean = clipped = 0
        if n:
            amp = np.abs(samples.astype(np.int64) - 128)
            peak = int(samples.max())
            mean = int(amp.sum()) * 1000 // n
            clipped = int(
                ((samples >= 256 - clip_margin) | (samples < clip_margin)).sum()
            )
        yield (rid, n, n * 1000 // sample_rate, peak, mean, clipped)

    return per_row(
        binary_df, [id_col, "payload"], row,
        "doc_id long, n_samples long, duration_ms long, peak int, mean_amp_milli long, n_clipped long",
    )


def frame_sample(
    binary_df: DataFrame, id_col: str, frame_bytes: int = 1024, stride: int = 4
) -> DataFrame:
    """'Video' frame sampling stub: treat the payload as fixed-size frames,
    emit every ``stride``-th frame index + its md5.  Exercises the
    explode-to-frames schema a real video pipeline needs."""

    def row(rid, data):
        for i in range(0, max(1, len(data) // frame_bytes), stride):
            chunk = data[i * frame_bytes : (i + 1) * frame_bytes]
            yield (rid, i, hashlib.md5(chunk).hexdigest())

    return per_row(
        binary_df, [id_col, "payload"], row,
        "doc_id long, frame_idx int, frame_md5 string",
    )


# ---------------------------------------------------------------------------
# Real PIXEL decode — pure numpy, no media libraries: uncompressed 24-bit
# BMP (BI_RGB, bottom-up, 4-byte row padding) is fully specified by its
# header, so encode/decode/resample are exact without PIL.  This closes
# the pixel-transform gap for the one mainstream container that needs no
# codec: bytes → ndarray → resize → bytes, all verifiable.
# ---------------------------------------------------------------------------


def encode_bmp(arr) -> bytes:
    """Encode an ``(H, W, 3)`` uint8 RGB array as a 24-bit BI_RGB BMP."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    row = w * 3
    pad = (-row) % 4
    img_size = (row + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    # bottom-up rows, RGB→BGR, zero padding
    body = bytearray()
    bgr = a[:, :, ::-1]
    for r in range(h - 1, -1, -1):
        body += bgr[r].tobytes() + b"\x00" * pad
    return header + info + bytes(body)


def decode_bmp(payload: bytes):
    """Decode a 24-bit BI_RGB BMP into an ``(H, W, 3)`` uint8 RGB array.
    Raises ValueError on any other BMP flavor — loud, never truncating."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0 or planes != 1 or h <= 0:
        raise ValueError(f"unsupported BMP flavor (bpp={bpp} comp={comp} h={h})")
    row = w * 3
    stride = row + ((-row) % 4)
    raw = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = raw.reshape(h, stride)[:, :row].reshape(h, w, 3)
    return rows[::-1, :, ::-1].copy()  # bottom-up → top-down, BGR → RGB


def resize_nearest(arr, out_w: int, out_h: int):
    """Nearest-neighbor resample: src index = floor(dst·src_dim/out_dim) —
    the same closed form an external oracle can recompute."""
    import numpy as np

    a = np.asarray(arr)
    h, w = a.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return a[np.ix_(ri, ci)]


def synthesize_bmp(seed: int) -> bytes:
    """Deterministic real BMP: H = seed%13+4, W = (seed*5)%13+4, every
    channel of pixel (r, c) = (3r + 5c + seed) mod 256.  The gradient is
    closed-form, so any pixel statistic after any floor-arithmetic
    resample is recomputable by an external SQL oracle."""
    import numpy as np

    h = seed % 13 + 4
    w = (seed * 5) % 13 + 4
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    chan = ((3 * r + 5 * c + seed) % 256).astype(np.uint8)
    return encode_bmp(np.repeat(chan[:, :, None], 3, axis=2))


def _resize_stats(df, id_col, out_w, out_h, codec, synth, decode, encode,
                  audit_every, channels):
    """``(doc_id, src_w, src_h, pix_sum)`` per id: decode the REAL bytes of
    ``synth(id)``, nearest-resize to ``out_w`` × ``out_h`` and sum every
    pixel (times ``channels`` for a gray image standing in for that many
    identical channels).  Every ``audit_every``-th id also asserts an
    encode→decode round trip — a silent codec regression fails the stage
    loudly."""
    import numpy as np

    def row(seed):
        img = decode(synth(int(seed)))
        if int(seed) % audit_every == 0 and not np.array_equal(
            decode(encode(img)), img
        ):
            raise ValueError(f"{codec} codec round-trip mismatch")
        out = resize_nearest(img, out_w, out_h)
        yield (seed, img.shape[1], img.shape[0],
               channels * int(out.astype(np.int64).sum()))

    return per_row(
        df, [id_col], row, "doc_id long, src_w int, src_h int, pix_sum long"
    )


def _rgb_stats(df: DataFrame, id_col: str, decode_id) -> DataFrame:
    """``(doc_id, src_w, src_h, r_sum, g_sum, b_sum)`` of the image
    ``decode_id(id)`` decodes from the bytes it synthesizes for ``id``."""
    import numpy as np

    def row(seed):
        rgb = decode_id(int(seed))
        s = rgb.astype(np.int64).sum(axis=(0, 1))
        yield (seed, rgb.shape[1], rgb.shape[0], int(s[0]), int(s[1]), int(s[2]))

    return per_row(
        df, [id_col], row,
        "doc_id long, src_w int, src_h int, r_sum long, g_sum long, b_sum long",
    )


def bmp_resize_stats(
    df: DataFrame,
    id_col: str,
    *,
    out_w: int = 16,
    out_h: int = 16,
) -> DataFrame:
    """REAL pixel pipeline per row: synthesize a BMP from the id, decode
    its actual bytes to pixels, nearest-neighbor resize, re-encode, and
    report ``(id, src_w, src_h, pix_sum)`` where ``pix_sum`` sums every
    channel of the resized image.  One
    :func:`~h2h_spark.operators.per_row` stage; blobs never shuffle.  An
    encode→decode byte-exactness assertion runs on every row."""
    return _resize_stats(df, id_col, out_w, out_h, "BMP", synthesize_bmp,
                         decode_bmp, encode_bmp, 1, 1)


# ---------------------------------------------------------------------------
# Real PNG pixel codec — pure Python + zlib (stdlib): 8-bit truecolor
# (color type 2), all five scanline filters.  Compressed formats usually
# hide behind PIL; PNG's stack (zlib + per-row filters + CRC chunks) is
# small enough to implement exactly, which makes pixel transforms REAL
# for the most common lossless container too.
# ---------------------------------------------------------------------------


def _png_filter_rows(raw, filter_mode: str) -> bytearray:
    """Apply per-row PNG filters to an ``(H, W, C)`` int16 sample array;
    returns the filtered scanline stream (filter byte + row bytes)."""
    import numpy as np

    h, w, c = raw.shape
    out = bytearray()
    prior = np.zeros((w, c), dtype=np.int16)
    for r in range(h):
        ft = (r % 5) if filter_mode == "mixed" else 0
        row = raw[r]
        left = np.vstack([np.zeros((1, c), np.int16), row[:-1]])
        ul = np.vstack([np.zeros((1, c), np.int16), prior[:-1]])
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = row - left
        elif ft == 2:
            filt = row - prior
        elif ft == 3:
            filt = row - (left + prior) // 2
        else:  # Paeth
            p = left + prior - ul
            pa, pb, pc = abs(p - left), abs(p - prior), abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, ul)
            )
            filt = row - pred
        out.append(ft)
        out += (filt % 256).astype(np.uint8).tobytes()
        prior = row
    return out


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    c = tag + body
    return struct.pack(">I", len(body)) + c + struct.pack(
        ">I", zlib.crc32(c) & 0xFFFFFFFF
    )


def encode_png(arr, *, filter_mode: str = "mixed") -> bytes:
    """Encode an ``(H, W, 3)`` uint8 RGB array as an 8-bit truecolor PNG
    (color type 2), or an ``(H, W, 4)`` array as RGBA (color type 6).
    ``filter_mode='mixed'`` cycles the filter type per row (row % 5) so a
    decoder must implement every filter correctly; ``'none'`` writes
    filter 0 rows."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    if c not in (3, 4):
        raise ValueError("encode_png takes (H, W, 3) RGB or (H, W, 4) RGBA")
    out = _png_filter_rows(a.astype(np.int16), filter_mode)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if c == 3 else 6, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(indices, palette, *, filter_mode: str = "mixed") -> bytes:
    """Encode an ``(H, W)`` uint8 index array + ``(N, 3)`` uint8 palette
    as an 8-bit indexed-color PNG (color type 3, PLTE chunk)."""
    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
        raise ValueError("palette must be (N<=256, 3) uint8")
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("index exceeds palette size")
    h, w = idx.shape
    out = _png_filter_rows(idx[:, :, None].astype(np.int16), filter_mode)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Decode an 8-bit PNG: truecolor (color type 2) to ``(H, W, 3)``,
    RGBA (type 6) to ``(H, W, 4)``, and indexed-color (type 3, PLTE) to
    palette-resolved ``(H, W, 3)`` — chunk walk, zlib inflate, and exact
    unfiltering of all five scanline filters.  Raises ValueError on the
    remaining flavors (gray/gray-alpha, 16-bit, interlaced) — loud,
    never lossy."""
    import numpy as np

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w, ctype = len(_PNG_SIG), None, None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(">IIBBBBB", body)
            if (
                (comp, filt, ilace) != (0, 0, 0)
                or (depth, ctype) not in ((8, 2), (8, 3), (8, 6), (16, 2))
            ):
                raise ValueError(
                    f"unsupported PNG flavor (depth={depth} color={ctype} "
                    f"interlace={ilace})"
                )
        elif tag == b"PLTE":
            if ln % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    # PNG filters operate BYTEWISE with 'left' = the byte bpp positions
    # earlier, so the unfilter runs over byte LANES: at depth 8 a lane is
    # a sample; at depth 16 each sample is two big-endian lanes.
    nch = {2: 3, 3: 1, 6: 4}[ctype] * (depth // 8)
    raw = zlib.decompress(bytes(idat))
    stride = 1 + w * nch
    if len(raw) != stride * h:
        raise ValueError("PNG scanline payload length mismatch")
    img = np.zeros((h, w, nch), dtype=np.int16)
    prior = np.zeros((w, nch), dtype=np.int16)
    for r in range(h):
        ft = raw[r * stride]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=w * nch, offset=r * stride + 1
        ).reshape(w, nch).astype(np.int16)
        if ft == 0:
            recon = row
        elif ft == 2:
            recon = (row + prior) % 256
        elif ft == 1:
            # Sub is a per-channel prefix sum mod 256 — vectorized
            recon = np.cumsum(row.astype(np.int64), axis=0) % 256
            recon = recon.astype(np.int16)
        elif ft == 3:
            recon = row.copy()
            recon[0] = (recon[0] + prior[0] // 2) % 256
            for x in range(1, w):
                recon[x] = (recon[x] + (recon[x - 1] + prior[x]) // 2) % 256
        elif ft == 4:
            recon = row.copy()
            for x in range(w):
                left = recon[x - 1] if x else np.zeros(nch, np.int16)
                ul = prior[x - 1] if x else np.zeros(nch, np.int16)
                p = left + prior[x] - ul
                pa, pb, pc = abs(p - left), abs(p - prior[x]), abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior[x], ul)
                )
                recon[x] = (recon[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {ft}")
        img[r] = recon
        prior = recon
    out = img.astype(np.uint8)
    if ctype == 3:
        if plte is None:
            raise ValueError("indexed PNG missing PLTE")
        idx = out[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("palette index out of range")
        return plte[idx]
    if depth == 16:  # recombine big-endian lane pairs into uint16 samples
        hi = out[:, :, 0::2].astype(np.uint16)
        lo = out[:, :, 1::2].astype(np.uint16)
        return (hi << 8) | lo
    return out


def synthesize_png(seed: int) -> bytes:
    """Deterministic real PNG with the same closed-form gradient as
    :func:`synthesize_bmp` (every channel of pixel (r, c) = (3r + 5c +
    seed) mod 256) and per-row cycling filters, so decoding exercises
    Sub/Up/Average/Paeth while pixel statistics stay oracle-computable."""
    import numpy as np

    h = seed % 13 + 4
    w = (seed * 5) % 13 + 4
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    chan = ((3 * r + 5 * c + seed) % 256).astype(np.uint8)
    return encode_png(np.repeat(chan[:, :, None], 3, axis=2), filter_mode="mixed")


def encode_png_16bit(arr, *, filter_mode: str = "mixed") -> bytes:
    """Encode an ``(H, W, 3)`` uint16 RGB array as a 16-bit truecolor
    PNG: samples split into big-endian byte lanes, the same bytewise
    filters applied at bpp = 6."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint16)
    h, w, c = a.shape
    if c != 3:
        raise ValueError("encode_png_16bit takes (H, W, 3) uint16")
    lanes = np.zeros((h, w, 6), dtype=np.int16)
    lanes[:, :, 0::2] = (a >> 8).astype(np.int16)
    lanes[:, :, 1::2] = (a & 0xFF).astype(np.int16)
    out = _png_filter_rows(lanes, filter_mode)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def synthesize_png_16bit(seed: int) -> bytes:
    """Deterministic 16-bit PNG: channel k of pixel (r, c) =
    (301·r + 507·c + 11·seed + 21845·k) mod 65536 — closed-form sums."""
    import numpy as np

    h = seed % 13 + 4
    w = (seed * 5) % 13 + 4
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    k = np.arange(3, dtype=np.int64)[None, None, :]
    img = ((301 * r + 507 * c + 11 * seed + 21845 * k) % 65536).astype(np.uint16)
    return encode_png_16bit(img, filter_mode="mixed")


def png_16bit_stats(df: DataFrame, id_col: str) -> DataFrame:
    """REAL 16-bit PNG pipeline per row: synthesize, inflate + unfilter
    the actual bytes over byte lanes, recombine big-endian samples, and
    report channel sums."""
    import numpy as np

    def decode_id(seed):
        img = decode_png(synthesize_png_16bit(seed))
        if img.dtype != np.uint16:
            raise ValueError("16-bit decode returned wrong dtype")
        return img

    return _rgb_stats(df, id_col, decode_id)


def synthesize_png_palette(seed: int) -> bytes:
    """Deterministic indexed-color PNG: index (r, c) = (3r + 5c + seed)
    mod 64 into a 64-entry palette whose entry i is ((7i + seed) mod 256,
    (11i + 2·seed) mod 256, (13i + 3·seed) mod 256) — palette-resolved
    pixel sums stay closed-form for an external oracle."""
    import numpy as np

    h = seed % 13 + 4
    w = (seed * 5) % 13 + 4
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    idx = ((3 * r + 5 * c + seed) % 64).astype(np.uint8)
    i = np.arange(64, dtype=np.int64)
    pal = np.stack(
        [(7 * i + seed) % 256, (11 * i + 2 * seed) % 256, (13 * i + 3 * seed) % 256],
        axis=1,
    ).astype(np.uint8)
    return encode_png_palette(idx, pal, filter_mode="mixed")


def synthesize_png_rgba(seed: int) -> bytes:
    """Deterministic RGBA PNG: R/G/B of pixel (r, c) = (3r + 5c + seed +
    85k) mod 256 for k = 0/1/2 and alpha = (7r + 11c + seed) mod 256."""
    import numpy as np

    h = seed % 13 + 4
    w = (seed * 5) % 13 + 4
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    base = 3 * r + 5 * c + seed
    img = np.stack(
        [
            base % 256,
            (base + 85) % 256,
            (base + 170) % 256,
            (7 * r + 11 * c + seed) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    return encode_png(img, filter_mode="mixed")


def png_flavor_stats(df: DataFrame, id_col: str) -> DataFrame:
    """REAL indexed-color + RGBA PNG pipeline per row: synthesize both
    flavors from the id, decode the actual bytes (PLTE resolution for
    type 3, 4-channel unfiltering for type 6), and report channel sums."""
    import numpy as np

    def row(seed):
        pal_rgb = decode_png(synthesize_png_palette(int(seed)))
        rgba = decode_png(synthesize_png_rgba(int(seed)))
        ps = pal_rgb.astype(np.int64).sum(axis=(0, 1))
        qs = rgba.astype(np.int64).sum(axis=(0, 1))
        yield (seed, pal_rgb.shape[1], pal_rgb.shape[0],
               *map(int, ps[:3]), *map(int, qs[:4]))

    return per_row(
        df, [id_col], row,
        "doc_id long, src_w int, src_h int, pal_r_sum long, pal_g_sum long, "
        "pal_b_sum long, rgba_r_sum long, rgba_g_sum long, rgba_b_sum long, "
        "a_sum long",
    )


def png_resize_stats(
    df: DataFrame,
    id_col: str,
    *,
    out_w: int = 16,
    out_h: int = 16,
) -> DataFrame:
    """PNG twin of :func:`bmp_resize_stats`: synthesize → full real decode
    (inflate + unfilter) → nearest resize → channel sum, with a per-row
    encode→decode round-trip assertion."""
    return _resize_stats(df, id_col, out_w, out_h, "PNG", synthesize_png,
                         decode_png, encode_png, 1, 1)


# ---------------------------------------------------------------------------
# Real GIF pixel codec — pure Python: GIF89a with a 256-entry grayscale
# global color table.  The decoder implements standard variable-width
# LZW (clear/EOI handling, dictionary growth, LSB-first bit packing);
# the encoder uses the classic uncompressed-GIF technique (a clear code
# every 254 symbols keeps the code width pinned at 9 bits), which any
# conforming decoder — including this one — must handle.
# ---------------------------------------------------------------------------


def encode_gif(indices, palette) -> bytes:
    """Encode an ``(H, W)`` uint8 index array + ``(N <= 256, 3)`` palette
    as a GIF89a with a 256-entry global color table (palette zero-padded
    — GCT sizes are powers of two and the 9-bit pinned-width LZW wants
    the full 256-entry table)."""
    import numpy as np

    a = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
        raise ValueError("palette must be (N<=256, 3) uint8")
    if int(a.max(initial=0)) >= pal.shape[0]:
        raise ValueError("index exceeds palette size")
    h, w = a.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h) + bytes([0xF7, 0, 0])  # 256-entry GCT
    full = np.zeros((256, 3), dtype=np.uint8)
    full[: pal.shape[0]] = pal
    out += full.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out.append(8)  # LZW minimum code size
    # 9-bit codes, LSB-first; clear every 254 symbols pins the width.
    CLEAR, EOI = 256, 257
    codes = [CLEAR]
    for i, px in enumerate(a.flatten()):
        if i and i % 254 == 0:
            codes.append(CLEAR)
        codes.append(int(px))
    codes.append(EOI)
    acc = n_bits = 0
    data = bytearray()
    for code in codes:
        acc |= code << n_bits
        n_bits += 9
        while n_bits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
    if n_bits:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def encode_gif_gray(arr) -> bytes:
    """Encode an ``(H, W)`` uint8 grayscale array as a GIF89a with the
    identity grayscale ramp palette (palette[i] = (i, i, i))."""
    import numpy as np

    i = np.arange(256, dtype=np.uint8)
    return encode_gif(arr, np.stack([i, i, i], axis=1))


def _decode_gif_indices(payload: bytes):
    """(index array, global color table bytes) of the first image block
    — the shared parse behind the gray and palette-resolving decoders."""
    import numpy as np

    if payload[:6] not in (b"GIF89a", b"GIF87a") or len(payload) < 13:
        raise ValueError("not a (complete) GIF payload")
    sw, sh = struct.unpack_from("<HH", payload, 6)
    flags = payload[10]
    pos = 13
    gct = b""
    if flags & 0x80:
        gct_n = 2 << (flags & 0x07)
        gct = payload[pos : pos + 3 * gct_n]
        pos += 3 * gct_n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x2C:  # image descriptor
            left, top, w, h = struct.unpack_from("<HHHH", payload, pos + 1)
            iflags = payload[pos + 9]
            pos += 10
            if iflags & 0x40:
                raise ValueError("interlaced GIF unsupported")
            if iflags & 0x80:
                raise ValueError("local color table unsupported")
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while True:
                ln = payload[pos]
                pos += 1
                if ln == 0:
                    break
                data += payload[pos : pos + ln]
                pos += ln
            idx = np.array(
                _lzw_decode(bytes(data), min_code, w * h), dtype=np.uint8
            ).reshape(h, w)
            return idx, gct
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    raise ValueError("GIF contains no image data")


def decode_gif_gray(payload: bytes):
    """Decode a non-interlaced 8-bit GIF (first image block) through full
    variable-width LZW into an ``(H, W)`` uint8 index array, asserting
    the global palette is the identity grayscale ramp.  Raises ValueError
    on interlace/local-palette/other flavors — loud, never lossy."""
    idx, gct = _decode_gif_indices(payload)
    if len(gct) == 768 and any(
        gct[3 * i] != i or gct[3 * i + 1] != i or gct[3 * i + 2] != i
        for i in range(256)
    ):
        raise ValueError("GIF palette is not the grayscale ramp")
    return idx


def decode_gif(payload: bytes):
    """Decode a non-interlaced 8-bit GIF and resolve the global color
    table: ``(H, W, 3)`` uint8 RGB."""
    import numpy as np

    idx, gct = _decode_gif_indices(payload)
    if not gct:
        raise ValueError("GIF has no global color table")
    pal = np.frombuffer(gct, dtype=np.uint8).reshape(-1, 3)
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("GIF index out of palette range")
    return pal[idx]


def _lzw_decode(data: bytes, min_code: int, n_expected: int) -> list[int]:
    """Standard GIF LZW: LSB-first bit reader, dictionary growth with
    width bumps at 2^width, clear resets, KwKwK case."""
    CLEAR, EOI = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
    out: list[int] = []
    acc = n_bits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << n_bits
        n_bits += 8
        while n_bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            n_bits -= width
            if code == CLEAR:
                table = table[: (1 << min_code) + 2]
                width = min_code + 1
                prev = None
                continue
            if code == EOI:
                return out[:n_expected]
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError("corrupt LZW stream")
            out.extend(entry)
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out[:n_expected]


def synthesize_gif_color(seed: int) -> bytes:
    """Deterministic color GIF: index (r, c) = (3r + 5c + seed) mod 64
    into a 64-entry palette with entry i = ((5i + seed) mod 256,
    (9i + 2·seed) mod 256, (11i + 3·seed) mod 256) — channel sums stay
    closed-form."""
    import numpy as np

    h = seed % 13 + 4
    w = (seed * 5) % 13 + 4
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    idx = ((3 * r + 5 * c + seed) % 64).astype(np.uint8)
    i = np.arange(64, dtype=np.int64)
    pal = np.stack(
        [(5 * i + seed) % 256, (9 * i + 2 * seed) % 256, (11 * i + 3 * seed) % 256],
        axis=1,
    ).astype(np.uint8)
    return encode_gif(idx, pal)


def gif_color_stats(df: DataFrame, id_col: str) -> DataFrame:
    """REAL color-GIF pipeline per row: synthesize, full variable-width
    LZW decode of the actual bytes, global-color-table resolution, and
    per-channel sums."""
    return _rgb_stats(df, id_col, lambda s: decode_gif(synthesize_gif_color(s)))


def synthesize_gif(seed: int) -> bytes:
    """Deterministic real GIF with the shared closed-form gradient
    (index of pixel (r, c) = (3r + 5c + seed) mod 256, grayscale ramp
    palette)."""
    import numpy as np

    h = seed % 13 + 4
    w = (seed * 5) % 13 + 4
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    return encode_gif_gray(((3 * r + 5 * c + seed) % 256).astype(np.uint8))


def gif_resize_stats(
    df: DataFrame,
    id_col: str,
    *,
    out_w: int = 16,
    out_h: int = 16,
) -> DataFrame:
    """GIF twin of :func:`bmp_resize_stats`: synthesize → full LZW decode
    → nearest resize → sum over the 3 (identical grayscale) channels, so
    all three pixel pipelines share one closed-form oracle."""
    return _resize_stats(df, id_col, out_w, out_h, "GIF", synthesize_gif,
                         decode_gif_gray, encode_gif_gray, 1, 3)


# ---------------------------------------------------------------------------
# Real baseline JPEG codec — pure numpy (ITU-T T.81 baseline sequential
# DCT, grayscale, no subsampling).  The full stack is real: forward/
# inverse 8×8 DCT, zigzag, DC-difference + run-length AC coding, canonical
# Huffman tables carried in DHT, 0xFF byte stuffing.  The encoder emits
# its own canonical tables (DC symbols at 4 bits, AC at 8 — legal JPEG,
# simpler than Annex K's); the DECODER is general: it builds code tables
# from whatever DHT it finds, so it reads Annex-K streams too.
#
# Exactness contract: JPEG is lossy in general, but a block-constant
# image has a single DC coefficient 8·(c−128) per block — integral, so
# with a flat quantization table the decode is BIT-EXACT.  That is what
# lets q_jpeg_pixels grade the entire Huffman+DCT pipeline against a
# closed-form SQL oracle, the same trick as the BMP/PNG/GIF paths.
# ---------------------------------------------------------------------------

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_matrix():
    import numpy as np

    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0, :] *= 1 / np.sqrt(2)
    return m


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 canonical assignment."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out

# our canonical tables: 12 DC categories at 4 bits, 162 AC symbols at 8
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    r * 16 + s for r in range(16) for s in range(1, 11)
]
_AC_BITS = [0] * 7 + [len(_AC_VALS)] + [0] * 8


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8

    def pad(self) -> None:
        """1-fill to a byte boundary (T.81 requires it before RSTn)."""
        if self.n:
            fill = 8 - self.n
            self.put((1 << fill) - 1, fill)

    def put_marker(self, marker: int) -> None:
        """Emit a raw marker into the scan — NOT byte-stuffed (markers
        are exactly the FF-sequences stuffing exists to protect)."""
        self.pad()
        self.out += bytes([0xFF, marker])

    def flush(self) -> bytes:
        self.pad()
        return bytes(self.out)


def _category(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


def _encode_block(bw: _BitWriter, blk_shifted, quant: int, prev_dc: int,
                  m, dc_codes, ac_codes) -> int:
    """FDCT + flat-quant + entropy-code ONE level-shifted 8x8 block;
    returns the new DC predictor."""
    import numpy as np

    coef = m @ blk_shifted @ m.T
    q = np.floor(coef / quant + 0.5).astype(np.int64)
    zz = [int(q.flat[i]) for i in _ZIGZAG]
    diff = zz[0] - prev_dc
    s = _category(diff)
    bw.put(*dc_codes[s])
    if s:
        bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nz + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            bw.put(*ac_codes[0xF0])
            run -= 16
        s = _category(v)
        bw.put(*ac_codes[run * 16 + s])
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        bw.put(*ac_codes[0x00])  # EOB
    return zz[0]


def encode_jpeg_gray(arr, *, quant: int = 1) -> bytes:
    """Encode an ``(H, W)`` uint8 grayscale array (dims multiples of 8)
    as a real baseline JPEG with a flat quantization table ``quant``."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape
    if h % 8 or w % 8:
        raise ValueError("encode_jpeg_gray requires multiple-of-8 dims")
    m = _dct_matrix()
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    shifted = a.astype(np.float64) - 128.0
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = shifted[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            prev_dc = _encode_block(bw, blk, quant, prev_dc, m, dc_codes, ac_codes)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt = bytes([min(quant, 255)] * 64)
    dqt = seg(0xFFDB, b"\x00" + qt)
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xFFC4,
        b"\x00" + bytes(_DC_BITS[:16]) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS[:16]) + bytes(_AC_VALS),
    )
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


class _BitReader:
    """MSB-first reader over an entropy-coded segment with 0xFF00
    unstuffing; a non-stuffed marker ends the stream."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                else:
                    raise EOFError("marker inside scan")
            else:
                self.pos += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def restart(self, idx: int) -> None:
        """Consume the RST(idx mod 8) marker: drop the padded tail of
        the current byte, verify the marker bytes, realign."""
        self.n = 0
        b0 = self.data[self.pos]
        b1 = self.data[self.pos + 1]
        if b0 != 0xFF or b1 != 0xD0 + (idx & 7):
            raise ValueError(
                f"expected RST{idx & 7} marker, found {b0:02x}{b1:02x}"
            )
        self.pos += 2


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.bit()
        ln += 1
        sym = table.get((code, ln))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(br: _BitReader, dct_t, act_t, prev_dc: int):
    """Entropy-decode ONE block's zigzag coefficients; returns
    ``(zz, new_dc_predictor)``."""
    zz = [0] * 64
    s = _huff_decode(br, dct_t)
    diff = _extend(br.bits(s), s) if s else 0
    dc = prev_dc + diff
    zz[0] = dc
    k = 1
    while k < 64:
        sym = _huff_decode(br, act_t)
        if sym == 0x00:
            break
        if sym == 0xF0:
            k += 16
            continue
        run, size = sym >> 4, sym & 0xF
        k += run
        if k > 63:
            raise ValueError("AC run overflows block")
        zz[k] = _extend(br.bits(size), size)
        k += 1
    return zz, dc


def _idct_block(zz, q, m):
    """Dequantize + IDCT one zigzag coefficient block to uint8 samples."""
    import numpy as np

    coef = np.zeros(64, dtype=np.float64)
    for i, zi in enumerate(_ZIGZAG):
        coef[zi] = zz[i] * q[i]
    blk = m.T @ coef.reshape(8, 8) @ m
    return np.clip(np.floor(blk + 128.5), 0, 255).astype(np.uint8)


def decode_jpeg_gray(payload: bytes):
    """Decode a baseline grayscale JPEG (1 component, no subsampling,
    restart-marker-free) into an ``(H, W)`` uint8 array.  General DHT
    handling — reads any canonical tables, including Annex K's."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtab: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = 0
    dc_id = ac_id = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        ln = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2 : pos + ln]
        if marker == 0xDB:
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                width = 2 if pq else 1
                vals = []
                o += 1
                for _ in range(64):
                    vals.append(
                        struct.unpack_from(">H", body, o)[0] if pq else body[o]
                    )
                    o += width
                qtab[tq] = vals
        elif marker == 0xC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc != 1:
                raise ValueError("only 8-bit single-component baseline")
            if body[7] != 0x11:  # component sampling byte: 6-byte frame header + id
                raise ValueError("subsampling unsupported")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline SOF0 supported")
        elif marker == 0xC4:
            o = 0
            while o < len(body):
                tc_th = body[o]
                bits = list(body[o + 1 : o + 17])
                nval = sum(bits)
                vals = list(body[o + 17 : o + 17 + nval])
                codes = _canonical_codes(bits, vals)
                huff[(tc_th >> 4, tc_th & 0xF)] = {
                    (c, l): sym for sym, (c, l) in codes.items()
                }
                o += 17 + nval
        elif marker == 0xDA:
            dc_id, ac_id = body[2] >> 4, body[2] & 0xF
            pos += ln
            break
        pos += ln
    if not h or not w:
        raise ValueError("missing SOF0")
    q = np.array(qtab[0], dtype=np.float64)
    m = _dct_matrix()
    dct_t = huff[(0, dc_id)]
    act_t = huff[(1, ac_id)]
    br = _BitReader(payload, pos)
    out = np.zeros((h, w), dtype=np.uint8)
    prev_dc = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            zz, prev_dc = _decode_block(br, dct_t, act_t, prev_dc)
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _idct_block(zz, q, m)
    return out


def encode_jpeg_ycbcr420(
    y, cb, cr, *, quant_y: int = 1, quant_c: int = 1, restart_interval: int = 0
) -> bytes:
    """Encode Y/Cb/Cr planes as a real baseline color JPEG with 4:2:0
    chroma subsampling (SOF0 sampling 0x22/0x11/0x11, MCU-interleaved
    scan per T.81 A.2.3: four Y blocks then one Cb then one Cr per MCU,
    per-component DC predictors, luma/chroma quant + Huffman tables).
    ``restart_interval`` > 0 writes a DRI segment and an RSTn marker
    (cycling 0-7, byte-aligned, DC predictors reset) every that many
    MCUs — the resync mechanism real-world encoders emit.

    ``y`` is ``(H, W)`` uint8 with H, W multiples of 16; ``cb``/``cr``
    are the already-subsampled ``(H/2, W/2)`` planes (a camera pipeline
    subsamples before the codec; keeping the subsample outside makes the
    codec itself losslessly testable on block-constant sources).
    """
    import numpy as np

    y = np.asarray(y, dtype=np.uint8)
    cb = np.asarray(cb, dtype=np.uint8)
    cr = np.asarray(cr, dtype=np.uint8)
    h, w = y.shape
    if h % 16 or w % 16:
        raise ValueError("encode_jpeg_ycbcr420 requires multiple-of-16 dims")
    if cb.shape != (h // 2, w // 2) or cr.shape != (h // 2, w // 2):
        raise ValueError("chroma planes must be (H/2, W/2)")
    m = _dct_matrix()
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    ys = y.astype(np.float64) - 128.0
    cbs = cb.astype(np.float64) - 128.0
    crs = cr.astype(np.float64) - 128.0
    dc_y = dc_cb = dc_cr = 0
    mcu_idx = 0
    for my in range(h // 16):
        for mx in range(w // 16):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                bw.put_marker(0xD0 + (mcu_idx // restart_interval - 1) % 8)
                dc_y = dc_cb = dc_cr = 0
            mcu_idx += 1
            for vy in range(2):  # 4 luma blocks, raster order within MCU
                for vx in range(2):
                    r0 = my * 16 + vy * 8
                    c0 = mx * 16 + vx * 8
                    dc_y = _encode_block(
                        bw, ys[r0 : r0 + 8, c0 : c0 + 8], quant_y, dc_y,
                        m, dc_codes, ac_codes,
                    )
            r0, c0 = my * 8, mx * 8
            dc_cb = _encode_block(
                bw, cbs[r0 : r0 + 8, c0 : c0 + 8], quant_c, dc_cb,
                m, dc_codes, ac_codes,
            )
            dc_cr = _encode_block(
                bw, crs[r0 : r0 + 8, c0 : c0 + 8], quant_c, dc_cr,
                m, dc_codes, ac_codes,
            )
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt0 = bytes([min(quant_y, 255)] * 64)
    qt1 = bytes([min(quant_c, 255)] * 64)
    dqt = seg(0xFFDB, b"\x00" + qt0 + b"\x01" + qt1)
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x22, 0])  # Y: 2x2 sampling, quant table 0
        + bytes([2, 0x11, 1])  # Cb: 1x1, quant table 1
        + bytes([3, 0x11, 1]),  # Cr
    )
    ht = bytes(_DC_BITS[:16]) + bytes(_DC_VALS)
    at = bytes(_AC_BITS[:16]) + bytes(_AC_VALS)
    dht = seg(0xFFC4, b"\x00" + ht + b"\x10" + at + b"\x01" + ht + b"\x11" + at)
    dri = (
        seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    sos = seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return b"\xff\xd8" + dqt + sof + dht + dri + sos + scan + b"\xff\xd9"


def _ycbcr_to_rgb(y, cb, cr):
    """JFIF YCbCr -> RGB in float64 with floor(x + 0.5) rounding — the
    exact expression an external SQL oracle can replicate term-for-term
    (same literals, same left-associative order, IEEE double both sides).
    """
    import numpy as np

    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64)
    crf = cr.astype(np.float64)
    r = np.clip(np.floor(yf + 1.402 * (crf - 128.0) + 0.5), 0, 255)
    g = np.clip(
        np.floor(yf - 0.344136 * (cbf - 128.0) - 0.714136 * (crf - 128.0) + 0.5),
        0, 255,
    )
    b = np.clip(np.floor(yf + 1.772 * (cbf - 128.0) + 0.5), 0, 255)
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def decode_jpeg_color(payload: bytes):
    """Decode a baseline 3-component YCbCr JPEG — 4:2:0 (sampling
    0x22/0x11/0x11) or 4:4:4 (all 0x11) — into an ``(H, W, 3)`` uint8 RGB
    array: marker walk, per-component quant/Huffman table binding from
    SOF/SOS, MCU-interleaved entropy decode with per-component DC
    predictors, IDCT, nearest-neighbor chroma upsample, JFIF YCbCr->RGB.
    Restart markers and non-multiple-of-MCU dims are rejected loudly."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtab: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = 0
    restart_interval = 0
    comps: list[tuple[int, int, int, int]] = []  # (id, hs, vs, tq)
    scan_sel: dict[int, tuple[int, int]] = {}
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        ln = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2 : pos + ln]
        if marker == 0xDB:
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                width = 2 if pq else 1
                vals = []
                o += 1
                for _ in range(64):
                    vals.append(
                        struct.unpack_from(">H", body, o)[0] if pq else body[o]
                    )
                    o += width
                qtab[tq] = vals
        elif marker == 0xC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc != 3:
                raise ValueError("decode_jpeg_color handles 8-bit 3-component")
            for i in range(3):
                cid, sampling, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, sampling >> 4, sampling & 0xF, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline SOF0 supported")
        elif marker == 0xC4:
            o = 0
            while o < len(body):
                tc_th = body[o]
                bits = list(body[o + 1 : o + 17])
                nval = sum(bits)
                vals = list(body[o + 17 : o + 17 + nval])
                codes = _canonical_codes(bits, vals)
                huff[(tc_th >> 4, tc_th & 0xF)] = {
                    (c, l): sym for sym, (c, l) in codes.items()
                }
                o += 17 + nval
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:
            ns = body[0]
            for i in range(ns):
                cid, tsel = body[1 + 2 * i], body[2 + 2 * i]
                scan_sel[cid] = (tsel >> 4, tsel & 0xF)
            pos += ln
            break
        pos += ln
    if not comps:
        raise ValueError("missing SOF0")
    samplings = [(hs, vs) for _, hs, vs, _ in comps]
    if samplings not in (
        [(2, 2), (1, 1), (1, 1)],  # 4:2:0
        [(1, 1), (1, 1), (1, 1)],  # 4:4:4
    ):
        raise ValueError(f"unsupported sampling {samplings}")
    hmax = max(hs for hs, _ in samplings)
    vmax = max(vs for _, vs in samplings)
    mcu_h, mcu_w = 8 * vmax, 8 * hmax
    if h % mcu_h or w % mcu_w:
        raise ValueError("dims must be MCU multiples")
    m = _dct_matrix()
    br = _BitReader(payload, pos)
    planes = []
    for cid, hs, vs, tq in comps:
        planes.append(
            np.zeros((h * vs // vmax, w * hs // hmax), dtype=np.uint8)
        )
    prev = [0, 0, 0]
    mcu_idx = 0
    for my in range(h // mcu_h):
        for mx in range(w // mcu_w):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                br.restart(mcu_idx // restart_interval - 1)
                prev = [0, 0, 0]
            mcu_idx += 1
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                q = np.array(qtab[tq], dtype=np.float64)
                dct_t = huff[(0, scan_sel[cid][0])]
                act_t = huff[(1, scan_sel[cid][1])]
                for vy in range(vs):
                    for vx in range(hs):
                        zz, prev[ci] = _decode_block(br, dct_t, act_t, prev[ci])
                        r0 = (my * vs + vy) * 8
                        c0 = (mx * hs + vx) * 8
                        planes[ci][r0 : r0 + 8, c0 : c0 + 8] = _idct_block(
                            zz, q, m
                        )
    y = planes[0]
    cb, cr = planes[1], planes[2]
    if samplings[0] == (2, 2):  # nearest upsample chroma 2x both axes
        cb = np.repeat(np.repeat(cb, 2, axis=0), 2, axis=1)
        cr = np.repeat(np.repeat(cr, 2, axis=0), 2, axis=1)
    return _ycbcr_to_rgb(y, cb, cr)


def synthesize_jpeg_color(seed: int, *, restart_interval: int = 0) -> bytes:
    """Deterministic real 4:2:0 color JPEG: luma is block-constant per
    8x8 (Y block (bi, bj) = (3·bi + 5·bj + seed) mod 256) and chroma is
    constant per 16x16 MCU (Cb = (7·mi + 11·mj + seed) mod 256, Cr =
    (13·mi + 17·mj + 2·seed) mod 256), so every DCT has one integral DC
    coefficient, the lossy pipeline is bit-exact at flat quant 1, and
    post-decode RGB sums are closed-form for an external oracle."""
    import numpy as np

    mh = seed % 2 + 1
    mw = seed % 3 + 1  # 1-3 MCU columns: exercises horizontal MCU
    # interleave order and restart-marker cycling across columns
    bi = np.arange(2 * mh, dtype=np.int64)[:, None]
    bj = np.arange(2 * mw, dtype=np.int64)[None, :]
    yb = ((3 * bi + 5 * bj + seed) % 256).astype(np.uint8)
    y = np.kron(yb, np.ones((8, 8), dtype=np.uint8))
    mi = np.arange(mh, dtype=np.int64)[:, None]
    mj = np.arange(mw, dtype=np.int64)[None, :]
    cbb = ((7 * mi + 11 * mj + seed) % 256).astype(np.uint8)
    crb = ((13 * mi + 17 * mj + 2 * seed) % 256).astype(np.uint8)
    cb = np.kron(cbb, np.ones((8, 8), dtype=np.uint8))
    cr = np.kron(crb, np.ones((8, 8), dtype=np.uint8))
    return encode_jpeg_ycbcr420(y, cb, cr, restart_interval=restart_interval)


def jpeg_color_stats(
    df: DataFrame, id_col: str, *, restart_interval: int = 0
) -> DataFrame:
    """REAL color-JPEG pixel pipeline per row: synthesize a 4:2:0 YCbCr
    baseline JPEG from the id, MCU-interleave-decode its actual bytes
    (per-component Huffman/quant, IDCT, chroma upsample, YCbCr->RGB),
    and report per-channel pixel sums (codec work, not bytes, is the
    cost)."""
    return _rgb_stats(df, id_col, lambda s: decode_jpeg_color(
        synthesize_jpeg_color(s, restart_interval=restart_interval)
    ))


def synthesize_jpeg(seed: int) -> bytes:
    """Deterministic real JPEG: block-constant gradient (block (bi, bj)
    value = (3·bi + 5·bj + seed) mod 256) so the decode is bit-exact and
    every pixel statistic is closed-form for an external oracle."""
    import numpy as np

    bh = seed % 3 + 2
    bw_ = (seed * 5) % 4 + 2
    bi = np.arange(bh, dtype=np.int64)[:, None]
    bj = np.arange(bw_, dtype=np.int64)[None, :]
    blocks = ((3 * bi + 5 * bj + seed) % 256).astype(np.uint8)
    img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    return encode_jpeg_gray(img)


def jpeg_resize_stats(
    df: DataFrame,
    id_col: str,
    *,
    out_w: int = 16,
    out_h: int = 16,
) -> DataFrame:
    """REAL JPEG pixel pipeline per row: synthesize a baseline JPEG from
    the id, Huffman-decode + IDCT its actual bytes, nearest-neighbor
    resize, and report ``(doc_id, src_w, src_h, pix_sum)``.  The
    round-trip assertion is sampled: re-encode+re-decode costs ~2x the
    decode itself, so it audits 1 id in 16 — still loud on any codec
    regression, without tripling the stage's per-row work."""
    return _resize_stats(df, id_col, out_w, out_h, "JPEG", synthesize_jpeg,
                         decode_jpeg_gray, encode_jpeg_gray, 16, 1)


# --------------------------------------------------------------------------
# Progressive JPEG (SOF2) — spectral selection + successive approximation
# per T.81 Annex G.  The scans split the coefficient stream two ways: by
# zigzag band (DC / AC 1-8 / AC 9-63) and by bit plane (first pass sends
# the point-transformed high bits, a refinement pass sends the low bit).
# DC uses the arithmetic-shift point transform, AC the sign-magnitude one
# (T.81 G.1.2.1 / G.1.2.2); AC-first scans run-length EOB runs across
# blocks (EOBn symbols), AC-refinement scans interleave correction bits
# for already-nonzero coefficients with newly-nonzero insertions — the
# part every progressive decoder has to get exactly right.
# --------------------------------------------------------------------------

# progressive AC table = the baseline one + EOBn symbols (r<<4, r=1..14)
_ACP_VALS = [0x00, 0xF0] + [r << 4 for r in range(1, 15)] + [
    r * 16 + s for r in range(16) for s in range(1, 11)
]
_ACP_BITS = [0] * 7 + [len(_ACP_VALS)] + [0] * 8


def _signmag_shift(v: int, al: int) -> int:
    """The T.81 AC point transform: sign(v) * (|v| >> al)."""
    return -((-v) >> al) if v < 0 else v >> al


def _put_extend(bw: "_BitWriter", v: int, s: int) -> None:
    bw.put(v if v > 0 else v + (1 << s) - 1, s)


class _EobRun:
    """Cross-block EOB run accumulator for AC scans; refinement scans
    additionally buffer the correction bits the run passes over."""

    def __init__(self, bw: "_BitWriter", ac_codes) -> None:
        self.bw = bw
        self.ac = ac_codes
        self.n = 0
        self.corr: list[int] = []

    def flush(self) -> None:
        if self.n == 0:
            return
        r = self.n.bit_length() - 1
        self.bw.put(*self.ac[r << 4])
        if r:
            self.bw.put(self.n - (1 << r), r)
        for b in self.corr:
            self.bw.put(b, 1)
        self.n = 0
        self.corr = []

    def add(self, corr_bits: list[int]) -> None:
        self.n += 1
        self.corr.extend(corr_bits)
        if self.n == 32767:
            self.flush()


def _encode_ac_first(bw, blocks, ss, se, al, ac_codes) -> None:
    eob = _EobRun(bw, ac_codes)
    for zz in blocks:
        t = [_signmag_shift(zz[k], al) for k in range(ss, se + 1)]
        last = max((i for i, v in enumerate(t) if v), default=-1)
        if last < 0:
            eob.add([])
            continue
        eob.flush()
        run = 0
        for v in t[: last + 1]:
            if v == 0:
                run += 1
                continue
            while run >= 16:
                bw.put(*ac_codes[0xF0])
                run -= 16
            s = _category(v)
            bw.put(*ac_codes[run * 16 + s])
            _put_extend(bw, v, s)
            run = 0
        if last < se - ss:
            eob.add([])
    eob.flush()


def _encode_ac_refine(bw, blocks, ss, se, ah, al, ac_codes) -> None:
    eob = _EobRun(bw, ac_codes)
    for zz in blocks:
        hist = [_signmag_shift(zz[k], ah) for k in range(ss, se + 1)]
        full = [_signmag_shift(zz[k], al) for k in range(ss, se + 1)]
        newly = [i for i in range(len(hist)) if hist[i] == 0 and full[i] != 0]
        if not newly:
            # correction bit = the next-lower magnitude bit, i.e. bit 0
            # of the already-point-transformed value
            eob.add([abs(v) & 1 for h, v in zip(hist, full) if h])
            continue
        eob.flush()
        last = newly[-1]
        run = 0
        corr: list[int] = []
        for i in range(last + 1):
            if hist[i] != 0:
                corr.append(abs(full[i]) & 1)
                continue
            if full[i] == 0:
                run += 1
                if run == 16:
                    bw.put(*ac_codes[0xF0])
                    for b in corr:
                        bw.put(b, 1)
                    corr = []
                    run = 0
                continue
            if abs(full[i]) != 1:
                raise ValueError("refinement scan: coefficient grew >1 bit")
            bw.put(*ac_codes[run * 16 + 1])
            bw.put(1 if full[i] > 0 else 0, 1)
            for b in corr:
                bw.put(b, 1)
            corr = []
            run = 0
        if last < len(hist) - 1:
            # only a block whose band was NOT fully coded joins the EOB
            # run (same guard as _encode_ac_first — a decoder never
            # consumes an EOB for a block that already reached se)
            eob.add(
                [abs(full[i]) & 1 for i in range(last + 1, len(hist)) if hist[i]]
            )
    eob.flush()


def encode_jpeg_progressive_coeffs(
    blocks, bh: int, bw_: int, *, quant: int = 1
) -> bytes:
    """Encode quantized zigzag coefficient blocks (raster order, one
    64-int list per 8x8 block) as a real progressive grayscale JPEG
    (SOF2) with a six-scan script: DC first (Al=1), AC 1-8 first, AC
    9-63 first, DC refinement, AC 1-8 refinement, AC 9-63 refinement."""
    h, w = bh * 8, bw_ * 8
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_ACP_BITS, _ACP_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, b"\x00" + bytes([min(quant, 255)] * 64))
    out += seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(
        0xFFC4,
        b"\x00" + bytes(_DC_BITS[:16]) + bytes(_DC_VALS)
        + b"\x10" + bytes(_ACP_BITS[:16]) + bytes(_ACP_VALS),
    )

    def sos(ss: int, se: int, ah: int, al: int, body_bits: bytes) -> bytes:
        return seg(0xFFDA, bytes([1, 1, 0x00, ss, se, ah * 16 + al])) + body_bits

    # scan 1: DC first, Al=1 (arithmetic-shift point transform)
    bw = _BitWriter()
    prev = 0
    for zz in blocks:
        v = zz[0] >> 1
        diff = v - prev
        prev = v
        s = _category(diff)
        bw.put(*dc_codes[s])
        if s:
            _put_extend(bw, diff, s)
    out += sos(0, 0, 0, 1, bw.flush())
    # scans 2-3: AC first, Al=1
    for ss, se in ((1, 8), (9, 63)):
        bw = _BitWriter()
        _encode_ac_first(bw, blocks, ss, se, 1, ac_codes)
        out += sos(ss, se, 0, 1, bw.flush())
    # scan 4: DC refinement — one raw bit per block (low-order DC bit)
    bw = _BitWriter()
    for zz in blocks:
        bw.put(zz[0] & 1, 1)
    out += sos(0, 0, 1, 0, bw.flush())
    # scans 5-6: AC refinement, Ah=1 -> Al=0
    for ss, se in ((1, 8), (9, 63)):
        bw = _BitWriter()
        _encode_ac_refine(bw, blocks, ss, se, 1, 0, ac_codes)
        out += sos(ss, se, 1, 0, bw.flush())
    out += b"\xff\xd9"
    return bytes(out)


def _refine_ac_bit(blk: list[int], k: int, p1: int, br: "_BitReader") -> None:
    """Apply one AC correction bit to an already-nonzero coefficient:
    a 1-bit adds ``p1`` toward the sign if bit ``al`` isn't set yet
    (T.81 G.2 / the libjpeg-documented rule)."""
    if br.bit() and (blk[k] & p1) == 0:
        blk[k] += p1 if blk[k] >= 0 else -p1


def decode_jpeg_progressive_coeffs(payload: bytes):
    """Decode a progressive grayscale JPEG (SOF2) back to its quantized
    zigzag coefficient blocks — the scan-reassembly half of Annex G that
    :func:`encode_jpeg_progressive_coeffs` writes: DC first scans carry
    the arithmetic-shifted high bits, AC first scans carry
    sign-magnitude-shifted bands with cross-block EOBn runs, and
    refinement scans interleave correction bits for known coefficients
    with newly-nonzero ±1 insertions.  Returns ``(blocks, bh, bw)`` with
    blocks in raster order.  General over scan scripts (any band split,
    any number of one-bit refinements), one component only."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    h = w = 0
    blocks: list[list[int]] | None = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        ln = struct.unpack_from(">H", payload, pos)[0]
        body = payload[pos + 2 : pos + ln]
        if marker == 0xC2:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc != 1 or body[7] != 0x11:
                raise ValueError(
                    "only 8-bit single-component 1x1 progressive"
                )
            blocks = [[0] * 64 for _ in range(((h + 7) // 8) * ((w + 7) // 8))]
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("not a progressive (SOF2) stream")
        elif marker == 0xC4:
            o = 0
            while o < len(body):
                tc_th = body[o]
                bits = list(body[o + 1 : o + 17])
                nval = sum(bits)
                vals = list(body[o + 17 : o + 17 + nval])
                huff[(tc_th >> 4, tc_th & 0xF)] = {
                    (c, l): sym
                    for sym, (c, l) in _canonical_codes(bits, vals).items()
                }
                o += 17 + nval
        elif marker == 0xDA:
            if blocks is None:
                raise ValueError("SOS before SOF2")
            dc_id, ac_id = body[2] >> 4, body[2] & 0xF
            ss, se, ah, al = body[3], body[4], body[5] >> 4, body[5] & 0xF
            br = _BitReader(payload, pos + ln)
            if ss == 0:  # DC scan (se == 0 per T.81)
                if se != 0:
                    raise ValueError("DC scan with se != 0")
                if ah == 0:  # first: Huffman diffs of the high bits
                    dct = huff[(0, dc_id)]
                    prev = 0
                    for blk in blocks:
                        s = _huff_decode(br, dct)
                        prev += _extend(br.bits(s), s) if s else 0
                        blk[0] = prev << al
                else:  # refinement: one raw low bit per block
                    for blk in blocks:
                        if br.bit():
                            blk[0] |= 1 << al
            elif ah == 0:  # AC first scan for band ss..se
                act = huff[(1, ac_id)]
                eobrun = 0
                for blk in blocks:
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        sym = _huff_decode(br, act)
                        r, s = sym >> 4, sym & 0xF
                        if s == 0:
                            if r < 15:  # EOBn: run of (1<<r)+ext blocks
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.bits(r)
                                break
                            k += 16  # ZRL
                            continue
                        k += r
                        if k > se:
                            raise ValueError("AC run overflows band")
                        blk[k] = _extend(br.bits(s), s) << al
                        k += 1
            else:  # AC refinement scan (ah -> al, one bit)
                act = huff[(1, ac_id)]
                p1 = 1 << al
                eobrun = 0
                for blk in blocks:
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            sym = _huff_decode(br, act)
                            r, s = sym >> 4, sym & 0xF
                            if s == 0:
                                if r < 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.bits(r)
                                    break
                                newval = 0  # ZRL: pass 16 zero-history slots
                            elif s == 1:
                                newval = p1 if br.bit() else -p1
                            else:
                                raise ValueError(
                                    "refinement scan size > 1 bit"
                                )
                            # advance over r zero-history coefficients,
                            # refining every known-nonzero one passed
                            while k <= se:
                                if blk[k] != 0:
                                    _refine_ac_bit(blk, k, p1, br)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if s and k <= se:
                                blk[k] = newval
                            k += 1
                    if eobrun:
                        # inside an EOB run: only correction bits for the
                        # remaining known coefficients of this block
                        for kk in range(k, se + 1):
                            if blk[kk] != 0:
                                _refine_ac_bit(blk, kk, p1, br)
                        eobrun -= 1
            # realign to the next marker (skip pad bits / stuffing)
            pos = br.pos
            while payload[pos] != 0xFF or payload[pos + 1] == 0x00:
                pos += 1
            continue
        pos += ln
    if blocks is None:
        raise ValueError("missing SOF2")
    return blocks, (h + 7) // 8, (w + 7) // 8


def decode_jpeg_progressive(payload: bytes):
    """Full progressive decode to ``(H, W)`` uint8 pixels: scan
    reassembly via :func:`decode_jpeg_progressive_coeffs`, then the same
    dequantize+IDCT as the baseline path (flat quant read from DQT)."""
    import numpy as np

    blocks, bh, bw_ = decode_jpeg_progressive_coeffs(payload)
    # DQT: first marker walk only needs the one table
    pos, q = 2, None
    while pos < len(payload):
        marker = payload[pos + 1]
        if marker == 0xDA:
            break
        ln = struct.unpack_from(">H", payload, pos + 2)[0]
        if marker == 0xDB:
            q = [payload[pos + 5 + i] for i in range(64)]
        pos += 2 + ln
    if q is None:
        raise ValueError("missing DQT")
    m = _dct_matrix()
    qa = np.array(q, dtype=np.float64)
    out = np.zeros((bh * 8, bw_ * 8), dtype=np.uint8)
    for t, zz in enumerate(blocks):
        r, c = divmod(t, bw_)
        out[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = _idct_block(zz, qa, m)
    return out


def synthesize_progressive_coeffs(seed: int):
    """Deterministic quantized coefficient blocks for the progressive
    round-trip contract: ``bh = seed%2+1`` × ``bw = seed%3+1`` blocks;
    DC = (11t+seed)%17-8 and AC(k) = 0 when (t+k)%3=0 else
    ((7t+5k+seed)%9)-4 — a mix of zeros (EOB/ZRL runs), ±1 values
    (newly-nonzero only at the refinement scan) and |v|>=2 values
    (present in the first scan, low bit refined), so every Annex-G code
    path is exercised and an external SQL oracle can re-derive the
    coefficients closed-form."""
    bh, bw_ = seed % 2 + 1, seed % 3 + 1
    blocks = []
    for t in range(bh * bw_):
        zz = [(11 * t + seed) % 17 - 8]
        for k in range(1, 64):
            zz.append(
                0 if (t + k) % 3 == 0 else ((7 * t + 5 * k + seed) % 9) - 4
            )
        blocks.append(zz)
    return blocks, bh, bw_


def jpeg_progressive_stats(df: DataFrame, id_col: str) -> DataFrame:
    """REAL progressive-JPEG round trip per row: synthesize deterministic
    coefficient blocks from the id, encode them as a six-scan SOF2 stream
    (spectral selection + successive approximation), entropy-decode the
    actual bytes back to coefficients, and report exact integer summaries
    (count, sum, abs-sum, position-weighted sum) of the RECOVERED
    coefficients.  A wrong bit anywhere in the scan script — EOB-run
    lengths, refinement interleave, point transforms — shifts a sum."""

    def row(seed):
        blocks, bh, bw_ = synthesize_progressive_coeffs(int(seed))
        payload = encode_jpeg_progressive_coeffs(blocks, bh, bw_)
        got, gh, gw = decode_jpeg_progressive_coeffs(payload)
        if (gh, gw) != (bh, bw_):
            raise ValueError("progressive round trip: shape")
        yield (
            seed,
            len(got),
            sum(v for blk in got for v in blk),
            sum(abs(v) for blk in got for v in blk),
            sum(v * (t * 64 + k + 1) for t, blk in enumerate(got)
                for k, v in enumerate(blk)),
        )

    return per_row(
        df, [id_col], row,
        f"`{id_col}` long, n_blocks int, coef_sum long, abs_sum long, "
        "weighted_sum long",
    )


# --------------------------------------------------------------------------
# WAVE 16-bit PCM — the audio analogue of the pixel codecs: real RIFF
# container bytes in, exact samples out, no media libraries.  The decoder
# is a proper chunk WALK (fmt / data discovered by tag, unknown chunks
# like LIST skipped by their declared size, word-aligned), not an offset
# assumption — real-world WAVs carry metadata chunks before data.
# --------------------------------------------------------------------------


def encode_wav_pcm16(channels, rate: int, *, extra_chunk: bytes | None = None) -> bytes:
    """Encode N equal-length int16 channels as a standard RIFF/WAVE PCM
    file (interleaved little-endian frames).  ``extra_chunk`` (tag+body,
    e.g. a LIST INFO block) is inserted BEFORE data to exercise decoder
    chunk-skipping."""
    import numpy as np

    chans = [np.asarray(c, dtype=np.int16) for c in channels]
    n = chans[0].shape[0]
    if any(c.shape[0] != n for c in chans):
        raise ValueError("wav: channels must be equal length")
    nch = len(chans)
    frames = np.empty(n * nch, dtype="<i2")
    for j, c in enumerate(chans):
        frames[j::nch] = c
    data = frames.tobytes()
    block = 2 * nch
    fmt = struct.pack("<HHIIHH", 1, nch, rate, rate * block, block, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk is not None:
        tag, payload = extra_chunk[:4], extra_chunk[4:]
        body += tag + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"  # RIFF word alignment
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm16(payload: bytes):
    """Decode a RIFF/WAVE PCM16 file to a ``(n_samples, n_channels)``
    int16 array + sample rate: chunk walk for 'fmt ' and 'data' (unknown
    chunks skipped by size, odd sizes padded), strict PCM16 validation,
    vectorized de-interleave."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, 8 + struct.unpack_from("<I", payload, 4)[0]
    fmt = data = None
    while pos + 8 <= min(end, len(payload)):
        tag = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"wav: chunk {tag!r} truncated")
        if tag == b"fmt ":
            fmt = body
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt or data chunk")
    codec, nch, rate, _br, block, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if codec != 1 or bits != 16:
        raise ValueError(f"wav: only PCM16 supported (codec={codec}, bits={bits})")
    if block != 2 * nch or nch < 1:
        raise ValueError("wav: inconsistent block align")
    if len(data) % block:
        raise ValueError("wav: data not frame-aligned")
    frames = np.frombuffer(data, dtype="<i2")
    return frames.reshape(-1, nch), rate


def synthesize_wav_stereo(seed: int) -> bytes:
    """Deterministic stereo PCM16 WAV: ``ns = seed%400+50`` frames with
    L(i) = ((13i+7·seed) mod 65536) - 32768 and R(i) = ((17i+11·seed)
    mod 65536) - 32768 — full-range int16 ramps an external oracle can
    re-derive closed-form.  A LIST INFO chunk precedes data so decode
    must genuinely walk chunks."""
    import numpy as np

    ns = seed % 400 + 50
    i = np.arange(ns, dtype=np.int64)
    left = ((13 * i + 7 * seed) % 65536) - 32768
    right = ((17 * i + 11 * seed) % 65536) - 32768
    return encode_wav_pcm16(
        [left.astype(np.int16), right.astype(np.int16)],
        8000 + seed % 8 * 1000,
        extra_chunk=b"LIST" + b"INFOIART" + struct.pack("<I", 3) + b"h2h",
    )


def wav_pcm_stats(df: DataFrame, id_col: str) -> DataFrame:
    """REAL audio decode pipeline per row: synthesize a stereo PCM16 WAV
    from the id, chunk-walk + de-interleave its actual bytes, and report
    exact integer per-channel sums and absolute sums; blobs never leave
    the task."""
    import numpy as np

    def row(seed):
        frames, rate = decode_wav_pcm16(synthesize_wav_stereo(int(seed)))
        s = frames.astype(np.int64)
        yield (seed, frames.shape[0], rate, int(s[:, 0].sum()), int(s[:, 1].sum()),
               int(np.abs(s[:, 0]).sum()), int(np.abs(s[:, 1]).sum()))

    return per_row(
        df, [id_col], row,
        f"`{id_col}` long, n_samples int, sample_rate int, l_sum long, "
        "r_sum long, l_abs long, r_abs long",
    )


# ---------------------------------------------------------------------------
# ISO BMFF (MP4) container — the video-modality metadata path.  Reference
# for the box grammar: ISO/IEC 14496-12 (public spec).  Same discipline as
# the image codecs: a deterministic synthesizer builds VALID container
# bytes from seed arithmetic, the parser walks the real box tree back, and
# the oracle recomputes the arithmetic — so a green row proves the box
# walk (including the 64-bit largesize branch), not a stub.


def synthesize_mp4(seed: int) -> bytes:
    """Minimal VALID MP4: ``ftyp`` + ``free`` + ``moov`` (``mvhd`` +
    per-track ``trak``/``tkhd``) + an ``mdat`` that uses the 64-bit
    largesize encoding (size field = 1) so parsers must take that
    branch.  All fields are fixed seed arithmetic (mirrored by the
    oracle SQL):

    - ``timescale   = 600 + seed % 10 * 100``
    - ``duration    = seed % 5000 + 100``       (movie timescale units)
    - ``n_tracks    = seed % 3 + 1``
    - track ``i``:  ``width = (seed*3 + i*17) % 1920 + 16``,
                    ``height = (seed*7 + i*23) % 1080 + 16``
    - ``mdat`` payload ``seed % 32 + 1`` bytes
    """
    seed = int(seed)

    def box(kind: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + kind + payload

    timescale = 600 + seed % 10 * 100
    duration = seed % 5000 + 100
    n_tracks = seed % 3 + 1

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = box(
        b"mvhd",
        struct.pack(">B3x", 0)  # version 0, flags 0
        + struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH8x", 0x00010000, 0x0100, 0)  # rate, volume, rsvd
        + matrix
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", n_tracks + 1),  # next_track_ID
    )
    traks = b""
    for i in range(n_tracks):
        w = (seed * 3 + i * 17) % 1920 + 16
        h = (seed * 7 + i * 23) % 1080 + 16
        tkhd = box(
            b"tkhd",
            struct.pack(">B", 0) + b"\x00\x00\x07"  # version 0, flags 7
            + struct.pack(">III4xI8x", 0, 0, i + 1, duration)
            + struct.pack(">HHHH", 0, 0, 0, 0)  # layer, group, volume, rsvd
            + matrix
            + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed point
        )
        traks += box(b"trak", tkhd)
    moov = box(b"moov", mvhd + traks)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    free = box(b"free", b"\x00" * (seed % 7 + 1))
    payload = bytes((seed * 13 + i * 11) % 256 for i in range(seed % 32 + 1))
    mdat = (
        struct.pack(">I", 1)  # size = 1 -> 64-bit largesize follows type
        + b"mdat"
        + struct.pack(">Q", 16 + len(payload))
        + payload
    )
    return ftyp + free + moov + mdat


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (kind, payload_start, payload_end) for each box in
    ``data[start:end]`` — handles the 64-bit largesize encoding and
    raises on truncation or a size that escapes the enclosing box."""
    off = start
    while off < end:
        if off + 8 > end:
            raise ValueError("mp4: truncated box header")
        size = struct.unpack_from(">I", data, off)[0]
        kind = data[off + 4 : off + 8]
        hdr = 8
        if size == 1:  # largesize
            if off + 16 > end:
                raise ValueError("mp4: truncated largesize header")
            size = struct.unpack_from(">Q", data, off + 8)[0]
            hdr = 16
        elif size == 0:  # box extends to end of file
            size = end - off
        if size < hdr or off + size > end:
            raise ValueError(f"mp4: box {kind!r} size {size} escapes container")
        yield kind, off + hdr, off + size
        off += size


def parse_mp4_meta(data: bytes) -> dict | None:
    """Walk the box tree of a valid MP4 and report container metadata:
    movie timescale/duration (+ derived ms), track count, the first
    track's pixel dimensions (from tkhd's 16.16 fixed point), and the
    total ``mdat`` payload bytes.  Returns None unless the file starts
    with ``ftyp`` (the MP4 signature check)."""
    if len(data) < 8 or data[4:8] != b"ftyp":
        return None
    meta = {
        "timescale": None, "duration": None, "duration_ms": None,
        "n_tracks": 0, "width": None, "height": None, "mdat_bytes": 0,
    }
    for kind, ps, pe in _mp4_boxes(data, 0, len(data)):
        if kind == b"mdat":
            meta["mdat_bytes"] += pe - ps
        elif kind == b"moov":
            for k2, qs, qe in _mp4_boxes(data, ps, pe):
                if k2 == b"mvhd":
                    ver = data[qs]
                    if ver == 1:  # 64-bit times (spec branch)
                        ts, dur = struct.unpack_from(">IQ", data, qs + 20)
                    else:
                        ts, dur = struct.unpack_from(">II", data, qs + 12)
                    meta["timescale"] = ts
                    meta["duration"] = dur
                    meta["duration_ms"] = dur * 1000 // ts if ts else None
                elif k2 == b"trak":
                    meta["n_tracks"] += 1
                    for k3, rs, _re in _mp4_boxes(data, qs, qe):
                        if k3 == b"tkhd" and meta["width"] is None:
                            ver = data[rs]
                            # width/height are the LAST 8 payload bytes in
                            # both tkhd versions
                            w, h = struct.unpack_from(">II", data, _re - 8)
                            meta["width"] = w >> 16
                            meta["height"] = h >> 16
    return meta


def mp4_meta(df: DataFrame, id_col: str, seed_col: str | None = None) -> DataFrame:
    """Synthesize-then-decode MP4 metadata stage (the video twin of
    :func:`media_meta`): per row build a valid MP4 from the seed, parse
    the real box tree back, emit typed metadata — blobs are born and die
    inside the task."""
    fields = (
        "timescale", "duration", "duration_ms", "n_tracks", "width", "height",
        "mdat_bytes",
    )

    def row(rid, *seed):
        m = parse_mp4_meta(synthesize_mp4(int(seed[0] if seed else rid)))
        yield (rid, *(m[f] for f in fields))

    cols = [id_col] + ([seed_col] if seed_col and seed_col != id_col else [])
    return per_row(
        df, cols, row,
        f"`{id_col}` long, timescale int, duration bigint, duration_ms bigint, "
        "n_tracks int, width int, height int, mdat_bytes bigint",
    )


def image_dhash(df: DataFrame, id_col: str) -> DataFrame:
    """Perceptual image fingerprint (dHash): decode the REAL BMP bytes,
    nearest-sample to a 9×8 grid, emit one bit per horizontal gradient
    sign (cell < right neighbor) — 64 bits, the standard near-duplicate
    key for images (bucket on the hash, verify within buckets: the same
    candidates-then-verify discipline as MinHash for text).

    Output ``(id, dhash_hi, dhash_lo, n_ones)`` — the 64-bit key split
    into two unsigned 32-bit halves so no engine touches the BIGINT
    sign bit.  Blobs never shuffle."""
    import numpy as np

    def row(seed):
        img = decode_bmp(synthesize_bmp(int(seed)))
        gray = img[:, :, 0].astype(np.int64)  # channels identical
        grid = resize_nearest(gray[:, :, None], 9, 8)[:, :, 0]
        flat = (grid[:, :-1] < grid[:, 1:]).flatten()  # 8x8, idx = r*8 + c
        val = sum(1 << i for i, b in enumerate(flat) if b)
        yield (seed, val >> 32, val & 0xFFFFFFFF, int(flat.sum()))

    return per_row(
        df, [id_col], row,
        f"`{id_col}` long, dhash_hi long, dhash_lo long, n_ones long",
    )


def wav_energy_blocks(
    df: DataFrame, id_col: str, *, block: int = 100
) -> DataFrame:
    """Audio activity detection: decode the REAL stereo PCM16 WAV bytes,
    then per ``block``-sample window of the LEFT channel report the
    exact integer energy Σs² and a silence flag — the
    voice-activity-gate shape (segment, measure, threshold) with every
    value BIGINT-exact for the oracle.  One output row per (id, block).
    """
    import numpy as np

    def row(seed):
        frames, _rate = decode_wav_pcm16(synthesize_wav_stereo(int(seed)))
        left = frames[:, 0].astype(np.int64)
        for b in range(0, len(left), block):
            seg = left[b:b + block]
            energy = int((seg * seg).sum())
            yield (seed, b // block, len(seg), energy, energy < 20_000_000_000)

    return per_row(
        df, [id_col], row,
        f"`{id_col}` long, block long, n long, energy long, is_silence boolean",
    )


def synthesize_mp4_samples(seed: int) -> bytes:
    """MP4 with REAL sample tables: per track a full
    ``mdia``/``mdhd`` + ``minf``/``stbl`` with ``stts`` (two duration
    runs) and ``stsz`` (per-sample sizes) — ISO/IEC 14496-12 §8.6.1.2 /
    §8.7.3.2.  All fields closed-form seed arithmetic (track ``i``):

    - stts runs: ``(seed%10+1) × (100+10i)`` then ``((seed*3)%7+1) ×
      (200+5i)``
    - media timescale ``600 + 60i``
    - stsz sample ``j``: ``(seed + 17j + i) % 500 + 20`` bytes
    """
    seed = int(seed)

    def box(kind: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + kind + payload

    n1 = seed % 10 + 1
    n2 = (seed * 3) % 7 + 1
    traks = b""
    for i in range(seed % 3 + 1):
        mdhd = box(
            b"mdhd",
            struct.pack(">B3x", 0)
            + struct.pack(">IIIIHH", 0, 0, 600 + 60 * i, 0, 0x55C4, 0),
        )
        stts = box(
            b"stts",
            struct.pack(">B3xI", 0, 2)
            + struct.pack(">II", n1, 100 + 10 * i)
            + struct.pack(">II", n2, 200 + 5 * i),
        )
        sizes = [
            (seed + 17 * j + i) % 500 + 20 for j in range(n1 + n2)
        ]
        stsz = box(
            b"stsz",
            struct.pack(">B3xII", 0, 0, len(sizes))
            + b"".join(struct.pack(">I", s) for s in sizes),
        )
        stbl = box(b"stbl", stts + stsz)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", mdhd + minf)
        traks += box(b"trak", mdia)
    mvhd = box(
        b"mvhd",
        struct.pack(">B3x", 0) + struct.pack(">IIII", 0, 0, 600, 1000)
        + b"\x00" * 80,
    )
    moov = box(b"moov", mvhd + traks)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    return ftyp + moov


def parse_mp4_sample_tables(data: bytes) -> list[dict]:
    """Walk moov→trak→mdia→{mdhd, minf→stbl→{stts, stsz}} and report,
    per track: media timescale, sample count, total duration in media
    units (Σ count·delta over the stts runs) and in ms, and total
    sample bytes (Σ stsz sizes, honoring the uniform-size shortcut)."""
    if len(data) < 8 or data[4:8] != b"ftyp":
        return []
    out: list[dict] = []
    for kind, ps, pe in _mp4_boxes(data, 0, len(data)):
        if kind != b"moov":
            continue
        for k2, qs, qe in _mp4_boxes(data, ps, pe):
            if k2 != b"trak":
                continue
            ts = None
            n_samples = 0
            dur = 0
            total = 0
            for k3, rs, re_ in _mp4_boxes(data, qs, qe):
                if k3 != b"mdia":
                    continue
                for k4, ss, se in _mp4_boxes(data, rs, re_):
                    if k4 == b"mdhd":
                        ver = data[ss]
                        ts = (
                            struct.unpack_from(">I", data, ss + 20)[0]
                            if ver == 1
                            else struct.unpack_from(">I", data, ss + 12)[0]
                        )
                    elif k4 == b"minf":
                        for k5, us, ue in _mp4_boxes(data, ss, se):
                            if k5 != b"stbl":
                                continue
                            for k6, vs, ve in _mp4_boxes(data, us, ue):
                                if k6 == b"stts":
                                    n = struct.unpack_from(">I", data, vs + 4)[0]
                                    for e in range(n):
                                        c, d = struct.unpack_from(
                                            ">II", data, vs + 8 + 8 * e
                                        )
                                        n_samples += c
                                        dur += c * d
                                elif k6 == b"stsz":
                                    uniform, cnt = struct.unpack_from(
                                        ">II", data, vs + 4
                                    )
                                    if uniform:
                                        total += uniform * cnt
                                    else:
                                        for j in range(cnt):
                                            total += struct.unpack_from(
                                                ">I", data, vs + 12 + 4 * j
                                            )[0]
            out.append(
                {
                    "timescale": ts,
                    "n_samples": n_samples,
                    "duration": dur,
                    "duration_ms": dur * 1000 // ts if ts else None,
                    "total_bytes": total,
                }
            )
    return out


def mp4_sample_stats(df: DataFrame, id_col: str) -> DataFrame:
    """VIDEO sample-table path: synthesize an MP4 whose tracks carry
    real stts/stsz tables, walk them back, and report per-track frame
    counts / durations / byte totals — the metadata a frame-sampling
    pipeline needs before it touches any codec.  Blobs stay in their
    task."""
    fields = ("timescale", "n_samples", "duration", "duration_ms", "total_bytes")

    def row(seed):
        tracks = parse_mp4_sample_tables(synthesize_mp4_samples(int(seed)))
        for i, t in enumerate(tracks):
            yield (seed, i, *(t[f] for f in fields))

    return per_row(
        df, [id_col], row,
        f"`{id_col}` long, track int, timescale int, n_samples long, "
        "duration long, duration_ms long, total_bytes long",
    )


# ---------------------------------------------------------------------------
# EXIF (JPEG APP1 / TIFF 6.0 IFD) — camera metadata for image corpora.
# Public specs: CIPA DC-008 (Exif 2.3) + TIFF 6.0.  The parser is a
# hand-rolled IFD walker (both byte orders, out-of-line values, the
# Exif sub-IFD pointer); the encoder exists for deterministic fixtures.
# ---------------------------------------------------------------------------

_EXIF_TAG_MAKE = 0x010F
_EXIF_TAG_MODEL = 0x0110
_EXIF_TAG_ORIENTATION = 0x0112
_EXIF_TAG_DATETIME = 0x0132
_EXIF_TAG_SUBIFD = 0x8769
_EXIF_TAG_ISO = 0x8827
_EXIF_TAG_PIXX = 0xA002
_EXIF_TAG_PIXY = 0xA003


def encode_exif_app1(
    *,
    make: str = "",
    model: str = "",
    orientation: int = 1,
    datetime_str: str = "",
    width: int = 0,
    height: int = 0,
    iso: int = 0,
    byteorder: str = "II",
) -> bytes:
    """Build one APP1 Exif segment (fixture writer): TIFF header +
    IFD0 (Make/Model/Orientation/DateTime + Exif-IFD pointer) + the
    Exif sub-IFD (PixelXDimension/PixelYDimension/ISO)."""
    import struct as _s

    le = byteorder == "II"
    e = "<" if le else ">"

    def entry(tag, typ, cnt, val4):
        return _s.pack(e + "HHI", tag, typ, cnt) + val4

    # layout: TIFF hdr (8) | IFD0 | sub-IFD | out-of-line data
    ifd0_tags = []
    sub_tags = []
    blob = bytearray()  # out-of-line values, offsets fixed at the end
    pend: list[tuple[int, bytes]] = []  # (patch position in seg, data)

    def ascii_val(tag, s, into):
        data = s.encode("ascii", "replace") + b"\x00"
        if len(data) <= 4:
            into.append(entry(tag, 2, len(data), data.ljust(4, b"\x00")))
        else:
            into.append((tag, data))  # resolved in pass 2

    ifd0_entries: list = []
    if make:
        ascii_val(_EXIF_TAG_MAKE, make, ifd0_entries)
    if model:
        ascii_val(_EXIF_TAG_MODEL, model, ifd0_entries)
    ifd0_entries.append(
        entry(_EXIF_TAG_ORIENTATION, 3, 1, _s.pack(e + "HH", orientation, 0))
    )
    if datetime_str:
        ascii_val(_EXIF_TAG_DATETIME, datetime_str, ifd0_entries)
    ifd0_entries.append((_EXIF_TAG_SUBIFD, None))  # pointer, pass 2

    sub_entries: list = [
        entry(_EXIF_TAG_ISO, 3, 1, _s.pack(e + "HH", iso, 0)),
        entry(_EXIF_TAG_PIXX, 4, 1, _s.pack(e + "I", width)),
        entry(_EXIF_TAG_PIXY, 4, 1, _s.pack(e + "I", height)),
    ]
    ifd0_entries.sort(key=lambda x: x[0] if isinstance(x, tuple) else
                      _s.unpack(e + "H", x[:2])[0])
    sub_entries.sort(key=lambda x: _s.unpack(e + "H", x[:2])[0])

    n0 = len(ifd0_entries)
    ifd0_size = 2 + 12 * n0 + 4
    sub_off = 8 + ifd0_size
    sub_size = 2 + 12 * len(sub_entries) + 4
    data_off = sub_off + sub_size

    resolved0 = []
    for it in ifd0_entries:
        if isinstance(it, tuple):
            tag, data = it
            if tag == _EXIF_TAG_SUBIFD:
                resolved0.append(
                    entry(tag, 4, 1, _s.pack(e + "I", sub_off))
                )
            else:
                resolved0.append(
                    entry(tag, 2, len(data), _s.pack(e + "I", data_off + len(blob)))
                )
                blob += data
        else:
            resolved0.append(it)

    tiff = bytearray()
    tiff += (b"II" if le else b"MM") + _s.pack(e + "H", 42) + _s.pack(e + "I", 8)
    tiff += _s.pack(e + "H", n0) + b"".join(resolved0) + _s.pack(e + "I", 0)
    tiff += _s.pack(e + "H", len(sub_entries)) + b"".join(sub_entries)
    tiff += _s.pack(e + "I", 0)
    tiff += blob
    body = b"Exif\x00\x00" + bytes(tiff)
    return b"\xff\xe1" + _s.pack(">H", len(body) + 2) + body


def insert_exif(jpeg: bytes, app1: bytes) -> bytes:
    """Splice an APP1 segment right after SOI."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


def parse_exif(payload: bytes) -> dict:
    """Parse EXIF metadata from a JPEG: scan marker segments for APP1
    ``Exif\\x00\\x00``, walk IFD0 and the Exif sub-IFD.  Returns
    ``{make, model, orientation, datetime, width, height, iso}`` with
    None for absent fields; raises ValueError on malformed TIFF."""
    import struct as _s

    out = {"make": None, "model": None, "orientation": None,
           "datetime": None, "width": None, "height": None, "iso": None}
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i = 2
    tiff = None
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            break
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # start of scan: no more metadata segments
            break
        seglen = _s.unpack(">H", payload[i + 2:i + 4])[0]
        if marker == 0xE1 and payload[i + 4:i + 10] == b"Exif\x00\x00":
            tiff = payload[i + 10:i + 2 + seglen]
            break
        i += 2 + seglen
    if tiff is None:
        return out
    if len(tiff) < 8 or tiff[:2] not in (b"II", b"MM"):
        raise ValueError("malformed TIFF header in Exif segment")
    e = "<" if tiff[:2] == b"II" else ">"
    if _s.unpack(e + "H", tiff[2:4])[0] != 42:
        raise ValueError("bad TIFF magic in Exif segment")

    def read_val(entry_bytes):
        tag, typ, cnt = _s.unpack(e + "HHI", entry_bytes[:8])
        val4 = entry_bytes[8:12]
        size = {1: 1, 2: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            return tag, None
        total = size * cnt
        raw = val4[:total] if total <= 4 else None
        if raw is None:
            off = _s.unpack(e + "I", val4)[0]
            if off + total > len(tiff):
                raise ValueError("EXIF value offset out of range")
            raw = tiff[off:off + total]
        if typ == 2:
            return tag, raw.rstrip(b"\x00").decode("ascii", "replace")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        vals = _s.unpack(e + str(cnt) + fmt, raw)
        return tag, vals[0] if cnt == 1 else list(vals)

    def walk(off):
        if off + 2 > len(tiff):
            raise ValueError("IFD offset out of range")
        n = _s.unpack(e + "H", tiff[off:off + 2])[0]
        ents = {}
        for j in range(n):
            base = off + 2 + 12 * j
            if base + 12 > len(tiff):
                raise ValueError("truncated IFD")
            tag, val = read_val(tiff[base:base + 12])
            ents[tag] = val
        return ents

    ifd0_off = _s.unpack(e + "I", tiff[4:8])[0]
    ifd0 = walk(ifd0_off)
    out["make"] = ifd0.get(_EXIF_TAG_MAKE)
    out["model"] = ifd0.get(_EXIF_TAG_MODEL)
    out["orientation"] = ifd0.get(_EXIF_TAG_ORIENTATION)
    out["datetime"] = ifd0.get(_EXIF_TAG_DATETIME)
    sub_off = ifd0.get(_EXIF_TAG_SUBIFD)
    if isinstance(sub_off, int) and sub_off:
        sub = walk(sub_off)
        out["iso"] = sub.get(_EXIF_TAG_ISO)
        out["width"] = sub.get(_EXIF_TAG_PIXX)
        out["height"] = sub.get(_EXIF_TAG_PIXY)
    return out


def header_stats(
    df: DataFrame, id_col: str, data_col: str, parse, columns: str
) -> DataFrame:
    """One row per blob of ``data_col``: the id, then ``parse(blob)[name]``
    for every ``name type`` of the DDL ``columns``.  A metadata walk —
    no decode — as one :func:`~h2h_spark.operators.per_row` stage."""
    names = [c.split()[0] for c in columns.split(",")]

    def row(rid, raw):
        m = parse(raw)
        yield (rid, *(m[n] for n in names))

    return per_row(df, [id_col, data_col], row, f"`{id_col}` bigint, {columns}")


def exif_stats(df: DataFrame, id_col: str, data_col: str = "data") -> DataFrame:
    """EXIF metadata columns for a binary JPEG column (pure metadata
    walk, no pixel decode)."""
    return header_stats(
        df, id_col, data_col, parse_exif,
        "make string, model string, orientation bigint, datetime string, "
        "width bigint, height bigint, iso bigint",
    )


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Audio Layer III) frame-header walk — audio-corpus metadata
# without decode, the MP3 twin of the MP4 stts/stsz walk.  Public spec:
# ISO/IEC 11172-3 header layout; ID3v2 tag framing per id3.org.
# ---------------------------------------------------------------------------

_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112,
                 128, 160, 192, 224, 256, 320)  # kbps, MPEG-1 Layer III
_MP3_RATES = (44100, 48000, 32000)


def encode_mp3_frames(
    frames: "Sequence[tuple[int, int, int]]", id3_bytes: int = 0
) -> bytes:
    """Fixture writer: a valid MPEG-1 Layer III frame sequence.  Each
    frame spec is ``(bitrate_index 1-14, samplerate_index 0-2,
    padding 0|1)``; payloads are deterministic filler.  ``id3_bytes``
    prepends an ID3v2 tag of that body size (syncsafe length)."""
    out = bytearray()
    if id3_bytes:
        ss = [(id3_bytes >> s) & 0x7F for s in (21, 14, 7, 0)]
        out += b"ID3\x04\x00\x00" + bytes(ss) + bytes(id3_bytes)
    for bri, sri, pad in frames:
        if not (1 <= bri <= 14 and 0 <= sri <= 2 and pad in (0, 1)):
            raise ValueError("bad mp3 frame spec")
        flen = 144 * _MP3_BITRATES[bri] * 1000 // _MP3_RATES[sri] + pad
        hdr = bytes([
            0xFF,
            0xFB,  # MPEG-1, Layer III, no CRC
            (bri << 4) | (sri << 2) | (pad << 1),
            0x00,  # stereo, no extras
        ])
        body = bytes((7 * i + bri) % 251 for i in range(flen - 4))
        out += hdr + body
    return bytes(out)


def parse_mp3(payload: bytes) -> dict:
    """Walk MP3 frame headers: skip a leading ID3v2 tag, then hop
    frame-to-frame by the computed frame length (144*bitrate/rate +
    padding), resyncing on the 11-bit sync word after junk.  Returns
    ``{n_frames, audio_bytes, duration_ms, sample_rate, bitrate_kbps
    (None when VBR), is_vbr}`` — no entropy decode, O(frames) header
    reads."""
    i = 0
    n = len(payload)
    if payload[:3] == b"ID3" and n >= 10:
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        i = 10 + size
    n_frames = 0
    audio = 0
    samples_by_rate: dict[int, int] = {}
    rates = set()
    brs = set()
    while i + 4 <= n:
        if payload[i] != 0xFF or (payload[i + 1] & 0xE0) != 0xE0:
            i += 1  # resync scan
            continue
        b1, b2 = payload[i + 1], payload[i + 2]
        version = (b1 >> 3) & 3
        layer = (b1 >> 1) & 3
        bri = (b2 >> 4) & 0xF
        sri = (b2 >> 2) & 3
        pad = (b2 >> 1) & 1
        if version != 3 or layer != 1 or bri in (0, 15) or sri == 3:
            i += 1  # not an MPEG-1 Layer III header: false sync
            continue
        flen = 144 * _MP3_BITRATES[bri] * 1000 // _MP3_RATES[sri] + pad
        if i + flen > n:
            break  # truncated final frame: stop, never over-read
        n_frames += 1
        audio += flen
        rate = _MP3_RATES[sri]
        samples_by_rate[rate] = samples_by_rate.get(rate, 0) + 1152
        rates.add(rate)
        brs.add(_MP3_BITRATES[bri])
        i += flen
    # integer-exact duration (truncating per rate) — deterministic and
    # externally recomputable, no float accumulation-order hazard
    dur_ms = sum(smp * 1000 // r for r, smp in samples_by_rate.items())
    return {
        "n_frames": n_frames,
        "audio_bytes": audio,
        "duration_ms": dur_ms,
        "sample_rate": rates.pop() if len(rates) == 1 else None,
        "bitrate_kbps": brs.pop() if len(brs) == 1 else None,
        "is_vbr": len(brs) > 1,
    }


def mp3_stats(df: DataFrame, id_col: str, data_col: str = "data") -> DataFrame:
    """MP3 header-walk metadata columns for a binary column, no decode."""
    return header_stats(
        df, id_col, data_col, parse_mp3,
        "n_frames bigint, audio_bytes bigint, duration_ms bigint, "
        "sample_rate bigint, bitrate_kbps bigint, is_vbr boolean",
    )


# ---------------------------------------------------------------------------
# FLAC metadata (STREAMINFO + VORBIS_COMMENT) — the lossless-audio twin
# of the MP3/WAV paths.  Public specs: xiph.org FLAC format (metadata
# block framing, STREAMINFO bit layout) and the Vorbis comment spec.
# No audio decode — header/metadata walk only.
# ---------------------------------------------------------------------------


def encode_flac_meta(
    *,
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
    tags: "dict[str, str] | None" = None,
    audio_bytes: int = 0,
) -> bytes:
    """Fixture writer: ``fLaC`` magic + STREAMINFO + optional
    VORBIS_COMMENT, followed by ``audio_bytes`` of deterministic filler
    standing in for frames (the walker never reads past the last
    metadata block)."""
    import struct as _s

    si = bytearray()
    si += _s.pack(">HH", 4096, 4096)  # min/max block size
    si += (0).to_bytes(3, "big") * 2  # min/max frame size (unknown)
    # 20 bits rate | 3 bits (channels-1) | 5 bits (bps-1) | 36 bits samples
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    si += packed.to_bytes(8, "big")
    si += bytes(16)  # md5 of unencoded audio (zeroed in fixtures)
    blocks = [(0, bytes(si))]
    if tags is not None:
        vc = bytearray()
        vendor = b"h2h_spark"
        vc += _s.pack("<I", len(vendor)) + vendor
        vc += _s.pack("<I", len(tags))
        for k, v in tags.items():
            ent = f"{k}={v}".encode()
            vc += _s.pack("<I", len(ent)) + ent
        blocks.append((4, bytes(vc)))
    out = bytearray(b"fLaC")
    for i, (btype, body) in enumerate(blocks):
        last = 0x80 if i == len(blocks) - 1 else 0
        out += bytes([last | btype]) + len(body).to_bytes(3, "big")
        out += body
    out += bytes((5 * i + 1) % 256 for i in range(audio_bytes))
    return bytes(out)


def parse_flac_meta(payload: bytes) -> dict:
    """Walk FLAC metadata blocks: STREAMINFO (required first block) and
    VORBIS_COMMENT.  Returns ``{sample_rate, channels, bits_per_sample,
    total_samples, duration_ms, n_tags, title, artist}`` (integer-exact
    duration = samples*1000 // rate).  Raises ValueError on malformed
    input."""
    import struct as _s

    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (no fLaC magic)")
    i = 4
    out = {"sample_rate": None, "channels": None, "bits_per_sample": None,
           "total_samples": None, "duration_ms": None, "n_tags": 0,
           "title": None, "artist": None}
    first = True
    while i + 4 <= len(payload):
        hdr = payload[i]
        btype = hdr & 0x7F
        blen = int.from_bytes(payload[i + 1:i + 4], "big")
        body = payload[i + 4:i + 4 + blen]
        if len(body) < blen:
            raise ValueError("truncated FLAC metadata block")
        if first and btype != 0:
            raise ValueError("first FLAC block is not STREAMINFO")
        first = False
        if btype == 0:
            if blen != 34:
                raise ValueError("bad STREAMINFO length")
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            out["sample_rate"] = rate
            out["channels"] = ((packed >> 41) & 0x7) + 1
            out["bits_per_sample"] = ((packed >> 36) & 0x1F) + 1
            out["total_samples"] = packed & ((1 << 36) - 1)
            if rate:
                out["duration_ms"] = out["total_samples"] * 1000 // rate
        elif btype == 4:
            j = 0
            (vlen,) = _s.unpack_from("<I", body, j)
            j += 4 + vlen
            (n,) = _s.unpack_from("<I", body, j)
            j += 4
            out["n_tags"] = n
            for _ in range(n):
                (elen,) = _s.unpack_from("<I", body, j)
                j += 4
                ent = body[j:j + elen].decode("utf-8", "replace")
                j += elen
                k, _, v = ent.partition("=")
                if k.upper() == "TITLE":
                    out["title"] = v
                elif k.upper() == "ARTIST":
                    out["artist"] = v
        i += 4 + blen
        if hdr & 0x80:
            break
    return out


def flac_stats(df: DataFrame, id_col: str, data_col: str = "data") -> DataFrame:
    """FLAC metadata columns for a binary column, no decode."""
    return header_stats(
        df, id_col, data_col, parse_flac_meta,
        "sample_rate bigint, channels bigint, bits_per_sample bigint, "
        "total_samples bigint, duration_ms bigint, n_tags bigint, "
        "title string, artist string",
    )


# ---------------------------------------------------------------------------
# OGG container page walk (RFC 3533) — page framing for Vorbis/Opus
# corpora: per-stream page/packet/byte accounting without codec decode.
# Page CRC-32 (poly 0x04C11DB7, unreflected, init 0, crc field zeroed)
# hard-verified like the ZIP/TFRecord sources.
# ---------------------------------------------------------------------------


def _ogg_crc_table():
    tbl = []
    for n in range(256):
        c = n << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if c & 0x80000000 \
                else (c << 1) & 0xFFFFFFFF
        tbl.append(c)
    return tbl


_OGG_CRC = None


def _ogg_crc(data: bytes) -> int:
    global _OGG_CRC
    if _OGG_CRC is None:
        _OGG_CRC = _ogg_crc_table()
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((crc >> 24) ^ b) & 0xFF]
    return crc


def encode_ogg_pages(
    pages: "Sequence[tuple[int, int, list[int]]]",
) -> bytes:
    """Fixture writer: each page spec is ``(serial, granule,
    packet_sizes)``; packets are split into 255-byte lacing segments per
    RFC 3533 §6 (a multiple-of-255 packet gets a terminating 0 lacing
    value).  Page sequence numbers run per stream; CRC real."""
    import struct as _s

    seqs: dict[int, int] = {}
    out = bytearray()
    for serial, granule, packet_sizes in pages:
        lacing = []
        body = bytearray()
        for psz in packet_sizes:
            q, r = divmod(psz, 255)
            lacing += [255] * q + [r]
            body += bytes((11 * i + psz) % 256 for i in range(psz))
        if len(lacing) > 255:
            raise ValueError("too many lacing segments for one page")
        seq = seqs.get(serial, 0)
        seqs[serial] = seq + 1
        hdr = bytearray()
        hdr += b"OggS\x00"
        hdr += bytes([0x02 if seq == 0 else 0x00])  # BOS flag on first
        hdr += _s.pack("<q", granule)
        hdr += _s.pack("<I", serial)
        hdr += _s.pack("<I", seq)
        hdr += b"\x00\x00\x00\x00"  # crc placeholder
        hdr += bytes([len(lacing)]) + bytes(lacing)
        page = bytes(hdr) + bytes(body)
        crc = _ogg_crc(page)
        page = page[:22] + _s.pack("<I", crc) + page[26:]
        out += page
    return bytes(out)


def parse_ogg(payload: bytes) -> "list[dict]":
    """Walk OGG pages: per logical stream (serial) return ``{serial,
    n_pages, n_packets, body_bytes, last_granule}``.  Packet count =
    lacing values < 255 (continued packets count once, on the page
    where they END).  CRC hard-verified per page; ValueError on
    mismatch or malformed framing."""
    import struct as _s

    i = 0
    n = len(payload)
    streams: dict[int, dict] = {}
    while i + 27 <= n:
        if payload[i:i + 4] != b"OggS":
            raise ValueError(f"lost OGG capture at offset {i}")
        if payload[i + 4] != 0:
            raise ValueError("unsupported OGG version")
        granule = _s.unpack_from("<q", payload, i + 6)[0]
        serial = _s.unpack_from("<I", payload, i + 14)[0]
        stored_crc = _s.unpack_from("<I", payload, i + 22)[0]
        nseg = payload[i + 26]
        seg_end = i + 27 + nseg
        if seg_end > n:
            raise ValueError("truncated OGG segment table")
        lacing = payload[i + 27:seg_end]
        body_len = sum(lacing)
        page_end = seg_end + body_len
        if page_end > n:
            raise ValueError("truncated OGG page body")
        page = bytearray(payload[i:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != stored_crc:
            raise ValueError(f"OGG page CRC mismatch at offset {i}")
        st = streams.setdefault(
            serial,
            {"serial": serial, "n_pages": 0, "n_packets": 0,
             "body_bytes": 0, "last_granule": 0},
        )
        st["n_pages"] += 1
        st["n_packets"] += sum(1 for v in lacing if v < 255)
        st["body_bytes"] += body_len
        st["last_granule"] = granule
        i = page_end
    if i != n:
        raise ValueError("trailing bytes after last OGG page")
    return sorted(streams.values(), key=lambda s: s["serial"])


def ogg_stats(df: DataFrame, id_col: str, data_col: str = "data") -> DataFrame:
    """Per-(id, stream) OGG page accounting."""
    fields = ("serial", "n_pages", "n_packets", "body_bytes", "last_granule")

    def row(rid, raw):
        for st in parse_ogg(raw):
            yield (rid, *(st[f] for f in fields))

    return per_row(
        df, [id_col, data_col], row,
        f"`{id_col}` bigint, serial bigint, n_pages bigint, "
        "n_packets bigint, body_bytes bigint, last_granule bigint",
    )


# --------------------------------------------------------------------------
# Standalone TIFF image metadata — the raw-.tif twin of the EXIF path
# (same TIFF 6.0 IFD walk, baseline image tags instead of camera tags).
# --------------------------------------------------------------------------

_TIFF_TAG_WIDTH = 0x0100
_TIFF_TAG_HEIGHT = 0x0101
_TIFF_TAG_BITS = 0x0102
_TIFF_TAG_COMPRESSION = 0x0103
_TIFF_TAG_DESCRIPTION = 0x010E


def encode_tiff_meta(
    *,
    width: int,
    height: int,
    bits: int = 8,
    compression: int = 1,
    description: str = "",
    byteorder: str = "II",
) -> bytes:
    """Fixture writer: a TIFF header + one IFD carrying the baseline
    image tags (no strip data — the walker reads metadata only)."""
    import struct as _s

    le = byteorder == "II"
    e = "<" if le else ">"

    def entry(tag, typ, cnt, val4):
        return _s.pack(e + "HHI", tag, typ, cnt) + val4

    entries = [
        entry(_TIFF_TAG_WIDTH, 4, 1, _s.pack(e + "I", width)),
        entry(_TIFF_TAG_HEIGHT, 4, 1, _s.pack(e + "I", height)),
        entry(_TIFF_TAG_BITS, 3, 1, _s.pack(e + "HH", bits, 0)),
        entry(_TIFF_TAG_COMPRESSION, 3, 1, _s.pack(e + "HH", compression, 0)),
    ]
    blob = b""
    if description:
        data = description.encode("ascii", "replace") + b"\x00"
        n = len(entries) + 1
        data_off = 8 + 2 + 12 * n + 4
        if len(data) <= 4:
            entries.append(
                entry(_TIFF_TAG_DESCRIPTION, 2, len(data),
                      data.ljust(4, b"\x00"))
            )
        else:
            entries.append(
                entry(_TIFF_TAG_DESCRIPTION, 2, len(data),
                      _s.pack(e + "I", data_off))
            )
            blob = data
    entries.sort(key=lambda b: _s.unpack(e + "H", b[:2])[0])
    out = bytearray()
    out += (b"II" if le else b"MM") + _s.pack(e + "H", 42)
    out += _s.pack(e + "I", 8)
    out += _s.pack(e + "H", len(entries)) + b"".join(entries)
    out += _s.pack(e + "I", 0)
    out += blob
    return bytes(out)


def parse_tiff_meta(payload: bytes) -> dict:
    """Baseline TIFF metadata via the IFD walk: ``{width, height, bits,
    compression, description}``; both byte orders; ValueError on
    malformed headers."""
    import struct as _s

    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF (bad byte-order mark)")
    e = "<" if payload[:2] == b"II" else ">"
    if _s.unpack(e + "H", payload[2:4])[0] != 42:
        raise ValueError("bad TIFF magic")
    off = _s.unpack(e + "I", payload[4:8])[0]
    if off + 2 > len(payload):
        raise ValueError("IFD offset out of range")
    n = _s.unpack(e + "H", payload[off:off + 2])[0]
    out = {"width": None, "height": None, "bits": None,
           "compression": None, "description": None}
    for j in range(n):
        base = off + 2 + 12 * j
        if base + 12 > len(payload):
            raise ValueError("truncated IFD")
        tag, typ, cnt = _s.unpack(e + "HHI", payload[base:base + 8])
        val4 = payload[base + 8:base + 12]
        size = {1: 1, 2: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            continue
        total = size * cnt
        raw = val4[:total] if total <= 4 else None
        if raw is None:
            voff = _s.unpack(e + "I", val4)[0]
            if voff + total > len(payload):
                raise ValueError("TIFF value offset out of range")
            raw = payload[voff:voff + total]
        if typ == 2:
            val = raw.rstrip(b"\x00").decode("ascii", "replace")
        else:
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            vals = _s.unpack(e + str(cnt) + fmt, raw)
            val = vals[0] if cnt == 1 else list(vals)
        if tag == _TIFF_TAG_WIDTH:
            out["width"] = val
        elif tag == _TIFF_TAG_HEIGHT:
            out["height"] = val
        elif tag == _TIFF_TAG_BITS:
            out["bits"] = val
        elif tag == _TIFF_TAG_COMPRESSION:
            out["compression"] = val
        elif tag == _TIFF_TAG_DESCRIPTION:
            out["description"] = val
    return out


def tiff_stats(df: DataFrame, id_col: str, data_col: str = "data") -> DataFrame:
    """TIFF metadata columns for a binary column."""
    return header_stats(
        df, id_col, data_col, parse_tiff_meta,
        "width bigint, height bigint, bits bigint, compression bigint, "
        "description string",
    )


# ---------------------------------------------------------------------------
# WebP metadata — the RIFF-based web image container (Google "WebP
# Container Specification", developers.google.com/speed/webp/docs/riff_container;
# VP8 frame header per RFC 6386 §9.1, VP8L per the WebP Lossless
# Bitstream Specification).  Crawl corpora are full of WebP; this is a
# header walk only — no pixel decode, O(chunks) per image.
# ---------------------------------------------------------------------------


def encode_webp(
    *,
    width: int,
    height: int,
    flavor: str = "lossy",
    n_anim_frames: int = 0,
    has_exif: bool = False,
) -> bytes:
    """Fixture writer: a structurally valid WebP file.  ``flavor`` is
    ``lossy`` (VP8), ``lossless`` (VP8L) or ``extended`` (VP8X wrapper;
    with ``n_anim_frames > 0`` an ANIM/ANMF animation, optionally an
    EXIF chunk).  Image payloads are deterministic filler — parseable
    headers, not decodable pixels (the documented fixture contract of
    every walker in this module)."""
    if not (1 <= width <= 16384 and 1 <= height <= 16384):
        raise ValueError("webp fixture dims out of range")

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + len(payload).to_bytes(4, "little") + payload + pad

    def vp8_payload() -> bytes:
        # RFC 6386 §9.1: 3-byte frame tag (keyframe bit 0 = 0), start
        # code 9D 01 2A, then 14-bit width/height (LE uint16 each)
        tag = (0 | (1 << 4) | (20 << 5)).to_bytes(3, "little")
        return (
            tag + b"\x9d\x01\x2a"
            + width.to_bytes(2, "little") + height.to_bytes(2, "little")
            + bytes(24)
        )

    def vp8l_payload() -> bytes:
        # signature 0x2F then a 32-bit LE field: 14-bit w-1, 14-bit h-1,
        # 1-bit alpha, 3-bit version (0)
        bits = (width - 1) | ((height - 1) << 14)
        return b"\x2f" + bits.to_bytes(4, "little") + bytes(16)

    if flavor == "lossy":
        body = chunk(b"VP8 ", vp8_payload())
    elif flavor == "lossless":
        body = chunk(b"VP8L", vp8l_payload())
    elif flavor == "extended":
        flags = 0
        if has_exif:
            flags |= 0x08
        if n_anim_frames:
            flags |= 0x02
        vp8x = (
            bytes([flags]) + bytes(3)
            + (width - 1).to_bytes(3, "little")
            + (height - 1).to_bytes(3, "little")
        )
        body = chunk(b"VP8X", vp8x)
        if n_anim_frames:
            body += chunk(b"ANIM", bytes(4) + (0).to_bytes(2, "little"))
            for i in range(n_anim_frames):
                anmf = (
                    bytes(6)  # frame x/y (24-bit each)
                    + (width - 1).to_bytes(3, "little")
                    + (height - 1).to_bytes(3, "little")
                    + (40 + i).to_bytes(3, "little")  # duration ms
                    + b"\x00"
                    + chunk(b"VP8 ", vp8_payload())
                )
                body += chunk(b"ANMF", anmf)
        else:
            body += chunk(b"VP8 ", vp8_payload())
        if has_exif:
            body += chunk(b"EXIF", b"II*\x00" + bytes(8))
    else:
        raise ValueError(f"unknown webp flavor {flavor!r}")
    riff = b"WEBP" + body
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


def parse_webp(payload: bytes) -> dict:
    """Walk the RIFF chunk list and the VP8/VP8L/VP8X headers.  Returns
    ``{format, width, height, has_alpha, has_exif, is_animated,
    n_frames, n_chunks}``; raises ``ValueError`` on structural
    violations (bad magic, truncated chunk, bad start code) — loud,
    never a guessed size."""
    n = len(payload)
    if n < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP file (RIFF/WEBP magic missing)")
    riff_len = int.from_bytes(payload[4:8], "little")
    if 8 + riff_len > n:
        raise ValueError("RIFF length extends past end of payload")
    out = {
        "format": None, "width": None, "height": None,
        "has_alpha": False, "has_exif": False, "is_animated": False,
        "n_frames": 0, "n_chunks": 0,
    }

    def parse_vp8(b: bytes) -> tuple[int, int]:
        if len(b) < 10 or b[3:6] != b"\x9d\x01\x2a":
            raise ValueError("bad VP8 keyframe start code")
        w = int.from_bytes(b[6:8], "little") & 0x3FFF
        h = int.from_bytes(b[8:10], "little") & 0x3FFF
        return w, h

    def parse_vp8l(b: bytes) -> tuple[int, int, bool]:
        if len(b) < 5 or b[0] != 0x2F:
            raise ValueError("bad VP8L signature")
        bits = int.from_bytes(b[1:5], "little")
        return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, bool(
            (bits >> 28) & 1
        )

    i = 12
    end = 8 + riff_len
    while i + 8 <= end:
        fourcc = payload[i:i + 4]
        clen = int.from_bytes(payload[i + 4:i + 8], "little")
        body = payload[i + 8:i + 8 + clen]
        if len(body) < clen:
            raise ValueError(f"truncated {fourcc!r} chunk")
        out["n_chunks"] += 1
        if fourcc == b"VP8 ":
            w, h = parse_vp8(body)
            out["n_frames"] += 1
            if out["format"] is None:
                out["format"], out["width"], out["height"] = "lossy", w, h
        elif fourcc == b"VP8L":
            w, h, alpha = parse_vp8l(body)
            out["n_frames"] += 1
            if out["format"] is None:
                out["format"], out["width"], out["height"] = (
                    "lossless", w, h,
                )
                out["has_alpha"] = alpha
        elif fourcc == b"VP8X":
            if clen < 10:
                raise ValueError("short VP8X chunk")
            flags = body[0]
            out["format"] = "extended"
            out["has_alpha"] = bool(flags & 0x10)
            out["has_exif"] = bool(flags & 0x08)
            out["is_animated"] = bool(flags & 0x02)
            out["width"] = int.from_bytes(body[4:7], "little") + 1
            out["height"] = int.from_bytes(body[7:10], "little") + 1
        elif fourcc == b"ANMF":
            out["n_frames"] += 1
        i += 8 + clen + (clen & 1)  # chunks are 2-byte aligned
    if out["format"] is None:
        raise ValueError("WebP carries no image chunk")
    return out


def webp_stats(
    df: DataFrame, id_col: str, data_col: str = "data"
) -> DataFrame:
    """WebP metadata columns for a binary column, no pixel decode."""
    return header_stats(
        df, id_col, data_col, parse_webp,
        "format string, width bigint, height bigint, has_exif boolean, "
        "is_animated boolean, n_frames bigint",
    )


# ---------------------------------------------------------------------------
# ADTS/AAC frame walk — the streaming AAC framing (ISO/IEC 13818-7 §6.2
# adts_frame; sampling-frequency table per ISO/IEC 14496-3).  The audio
# twin of the MP3 walker: header hops with sync resync, integer-exact
# duration, no entropy decode.
# ---------------------------------------------------------------------------

_ADTS_RATES = (96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350)


def encode_adts_frames(
    frames: "Sequence[tuple[int, int, int]]", with_crc: bool = False
) -> bytes:
    """Fixture writer: a valid ADTS frame sequence.  Each spec is
    ``(profile 0-3, samplerate_index 0-12, payload_bytes)``; payloads
    are deterministic filler (structural fixture, not decodable AAC)."""
    out = bytearray()
    hdr_len = 9 if with_crc else 7
    for prof, sri, nbytes in frames:
        if not (0 <= prof <= 3 and 0 <= sri <= 12 and nbytes >= 0):
            raise ValueError("bad adts frame spec")
        flen = hdr_len + nbytes
        if flen >= 1 << 13:
            raise ValueError("adts frame too long for the 13-bit field")
        b = bytearray(hdr_len)
        b[0] = 0xFF
        b[1] = 0xF0 | (0 << 3) | (0 << 1) | (0 if with_crc else 1)
        b[2] = (prof << 6) | (sri << 2) | (0 << 1) | 0
        # channel_config = 2 spans bytes 2-3
        b[2] |= (2 >> 2) & 1
        b[3] = ((2 & 3) << 6) | ((flen >> 11) & 3)
        b[4] = (flen >> 3) & 0xFF
        b[5] = ((flen & 7) << 5) | 0x1F  # buffer fullness high bits
        b[6] = 0xFC  # fullness low + number_of_raw_data_blocks-1 = 0
        out += bytes(b) + bytes((3 * i + prof) % 251 for i in range(nbytes))
    return bytes(out)


def parse_adts(payload: bytes) -> dict:
    """Walk ADTS frame headers: hop by the 13-bit frame length,
    resyncing on the 12-bit sync word after junk.  Returns ``{n_frames,
    audio_bytes, duration_ms, sample_rate, profile, channels,
    has_crc}`` — 1024 samples per raw data block, integer-exact
    duration, never over-reads a truncated tail."""
    i = 0
    n = len(payload)
    n_frames = 0
    audio = 0
    samples_by_rate: dict[int, int] = {}
    rates = set()
    profiles = set()
    channels = set()
    crc_flags = set()
    while i + 7 <= n:
        if payload[i] != 0xFF or (payload[i + 1] & 0xF6) != 0xF0:
            i += 1  # resync scan (syncword + layer bits must be 00)
            continue
        protection_absent = payload[i + 1] & 1
        prof = (payload[i + 2] >> 6) & 3
        sri = (payload[i + 2] >> 2) & 0xF
        if sri >= len(_ADTS_RATES):
            i += 1  # reserved sampling index: false sync
            continue
        chan = ((payload[i + 2] & 1) << 2) | ((payload[i + 3] >> 6) & 3)
        flen = (
            ((payload[i + 3] & 3) << 11)
            | (payload[i + 4] << 3)
            | ((payload[i + 5] >> 5) & 7)
        )
        hdr_len = 7 if protection_absent else 9
        if flen < hdr_len or i + flen > n:
            break  # malformed or truncated final frame: stop, no over-read
        blocks = (payload[i + 6] & 3) + 1
        n_frames += 1
        audio += flen
        rate = _ADTS_RATES[sri]
        samples_by_rate[rate] = (
            samples_by_rate.get(rate, 0) + 1024 * blocks
        )
        rates.add(rate)
        profiles.add(prof)
        channels.add(chan)
        crc_flags.add(not protection_absent)
        i += flen
    dur_ms = sum(smp * 1000 // r for r, smp in samples_by_rate.items())
    return {
        "n_frames": n_frames,
        "audio_bytes": audio,
        "duration_ms": dur_ms,
        "sample_rate": rates.pop() if len(rates) == 1 else None,
        "profile": profiles.pop() if len(profiles) == 1 else None,
        "channels": channels.pop() if len(channels) == 1 else None,
        "has_crc": crc_flags.pop() if len(crc_flags) == 1 else None,
    }


def adts_stats(
    df: DataFrame, id_col: str, data_col: str = "data"
) -> DataFrame:
    """ADTS/AAC header-walk metadata columns for a binary column, no
    decode."""
    return header_stats(
        df, id_col, data_col, parse_adts,
        "n_frames bigint, audio_bytes bigint, duration_ms bigint, "
        "sample_rate bigint, profile bigint, channels bigint, has_crc boolean",
    )


# ---------------------------------------------------------------------------
# WebM/Matroska metadata — EBML element walk (RFC 8794 variable-length
# integers; Matroska element ids per the public matroska.org spec /
# IETF draft-ietf-cellar-matroska).  The video-container twin of the
# MP4 box walk: Segment Info (timestamp scale, duration) and Tracks
# (type, codec, video dims, audio rate/channels) — Clusters (the media
# data) are SKIPPED by their declared size, so cost is O(metadata).
# ---------------------------------------------------------------------------

_EBML_HEADER_ID = b"\x1a\x45\xdf\xa3"
_WEBM_IDS = {
    "segment": b"\x18\x53\x80\x67",
    "info": b"\x15\x49\xa9\x66",
    "timestamp_scale": b"\x2a\xd7\xb1",
    "duration": b"\x44\x89",
    "tracks": b"\x16\x54\xae\x6b",
    "track_entry": b"\xae",
    "track_type": b"\x83",
    "codec_id": b"\x86",
    "video": b"\xe0",
    "pixel_width": b"\xb0",
    "pixel_height": b"\xba",
    "audio": b"\xe1",
    "sampling_frequency": b"\xb5",
    "channels": b"\x9f",
    "cluster": b"\x1f\x43\xb6\x75",
    "doctype": b"\x42\x82",
}


def _ebml_vint(data: bytes, i: int, keep_marker: bool) -> tuple[int, int]:
    """Read one EBML variable-length integer at ``i``; returns
    ``(value, next_index)``.  ``keep_marker`` retains the length-marker
    bit (element IDs are matched with it; sizes drop it).  A size with
    all value bits set means 'unknown size' and returns -1."""
    if i >= len(data):
        raise ValueError("EBML vint at end of data")
    first = data[i]
    if first == 0:
        raise ValueError(f"invalid EBML vint lead byte 0x00 at {i}")
    length = 9 - first.bit_length()
    if i + length > len(data):
        raise ValueError("truncated EBML vint")
    if keep_marker:
        val = int.from_bytes(data[i:i + length], "big")
    else:
        val = first & ((1 << (8 - length)) - 1)
        for b in data[i + 1:i + length]:
            val = (val << 8) | b
        if val == (1 << (7 * length)) - 1:
            val = -1  # unknown size (RFC 8794 §4)
    return val, i + length


def _ebml_walk(data: bytes, i: int, end: int):
    """Yield ``(id_bytes, payload_start, payload_end)`` for the sibling
    elements in ``[i, end)``; unknown-size elements extend to ``end``."""
    while i < end:
        eid, j = _ebml_vint(data, i, keep_marker=True)
        id_len = j - i
        id_bytes = data[i:j]
        size, k = _ebml_vint(data, j, keep_marker=False)
        if size < 0:
            yield id_bytes, k, end
            return
        if k + size > end:
            raise ValueError(
                f"EBML element {id_bytes.hex()} at {i} extends past "
                f"its parent"
            )
        yield id_bytes, k, k + size
        i = k + size
        del id_len


def encode_webm(
    *,
    duration_ms: int,
    tracks: "Sequence[dict]",
    n_clusters: int = 2,
    doctype: str = "webm",
) -> bytes:
    """Fixture writer: a structurally valid WebM/Matroska file.  Each
    track dict: ``{"type": "video"|"audio", "codec": str, "width"/
    "height"or "rate"/"channels"}``.  Cluster payloads are filler."""
    def el(id_bytes: bytes, payload: bytes) -> bytes:
        n = len(payload)
        # 2-byte size with marker 0x40 covers fixtures up to 2^14-2
        if n < (1 << 14) - 1:
            size = bytes([0x40 | (n >> 8), n & 0xFF])
        else:
            size = bytes([0x08 | (n >> 56)]) + (n & ((1 << 56) - 1)).to_bytes(7, "big")
        return id_bytes + size + payload

    def uint(v: int) -> bytes:
        return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")

    import struct as _struct

    header = el(
        _EBML_HEADER_ID,
        el(_WEBM_IDS["doctype"], doctype.encode()),
    )
    info = el(
        _WEBM_IDS["info"],
        el(_WEBM_IDS["timestamp_scale"], uint(1_000_000))
        + el(_WEBM_IDS["duration"], _struct.pack(">f", float(duration_ms))),
    )
    tr = b""
    for t in tracks:
        body = (
            el(_WEBM_IDS["track_type"],
               uint(1 if t["type"] == "video" else 2))
            + el(_WEBM_IDS["codec_id"], t["codec"].encode())
        )
        if t["type"] == "video":
            body += el(
                _WEBM_IDS["video"],
                el(_WEBM_IDS["pixel_width"], uint(t["width"]))
                + el(_WEBM_IDS["pixel_height"], uint(t["height"])),
            )
        else:
            body += el(
                _WEBM_IDS["audio"],
                el(_WEBM_IDS["sampling_frequency"],
                   _struct.pack(">f", float(t["rate"])))
                + el(_WEBM_IDS["channels"], uint(t["channels"])),
            )
        tr += el(_WEBM_IDS["track_entry"], body)
    tracks_el = el(_WEBM_IDS["tracks"], tr)
    clusters = b"".join(
        el(_WEBM_IDS["cluster"], bytes((5 * i + 3) % 251 for i in range(64)))
        for i in range(n_clusters)
    )
    return header + el(
        _WEBM_IDS["segment"], info + tracks_el + clusters
    )


def parse_webm(payload: bytes) -> dict:
    """EBML walk of Segment Info + Tracks; Clusters are skipped by
    size.  Returns ``{doctype, duration_ms, n_tracks, n_video,
    n_audio, width, height, sample_rate, channels, codecs}`` (dims
    from the first video track, audio fields from the first audio
    track, codecs sorted-joined).  Loud on structural violations."""
    import struct as _struct

    n = len(payload)
    if payload[:4] != _EBML_HEADER_ID:
        raise ValueError("not an EBML file (header magic missing)")
    out = {
        "doctype": None, "duration_ms": None, "n_tracks": 0,
        "n_video": 0, "n_audio": 0, "width": None, "height": None,
        "sample_rate": None, "channels": None, "codecs": None,
    }
    scale = 1_000_000  # ns per tick, Matroska default
    raw_duration = None
    codecs = []
    for eid, a, b in _ebml_walk(payload, 0, n):
        if eid == _EBML_HEADER_ID:
            for hid, ha, hb in _ebml_walk(payload, a, b):
                if hid == _WEBM_IDS["doctype"]:
                    out["doctype"] = payload[ha:hb].split(b"\x00")[0].decode(
                        "ascii", "replace"
                    )
        elif eid == _WEBM_IDS["segment"]:
            for sid, sa, sb in _ebml_walk(payload, a, b):
                if sid == _WEBM_IDS["info"]:
                    for iid, ia, ib in _ebml_walk(payload, sa, sb):
                        if iid == _WEBM_IDS["timestamp_scale"]:
                            scale = int.from_bytes(payload[ia:ib], "big")
                        elif iid == _WEBM_IDS["duration"]:
                            w = ib - ia
                            if w == 4:
                                raw_duration = _struct.unpack(
                                    ">f", payload[ia:ib])[0]
                            elif w == 8:
                                raw_duration = _struct.unpack(
                                    ">d", payload[ia:ib])[0]
                            else:
                                raise ValueError(
                                    f"Duration element width {w}")
                elif sid == _WEBM_IDS["tracks"]:
                    for tid, ta, tb in _ebml_walk(payload, sa, sb):
                        if tid != _WEBM_IDS["track_entry"]:
                            continue
                        out["n_tracks"] += 1
                        ttype = None
                        for fid, fa, fb in _ebml_walk(payload, ta, tb):
                            if fid == _WEBM_IDS["track_type"]:
                                ttype = int.from_bytes(
                                    payload[fa:fb], "big")
                            elif fid == _WEBM_IDS["codec_id"]:
                                codecs.append(
                                    payload[fa:fb].decode(
                                        "ascii", "replace"))
                            elif fid == _WEBM_IDS["video"]:
                                for vid, va, vb in _ebml_walk(
                                        payload, fa, fb):
                                    v = int.from_bytes(
                                        payload[va:vb], "big")
                                    if (vid == _WEBM_IDS["pixel_width"]
                                            and out["width"] is None):
                                        out["width"] = v
                                    elif (vid == _WEBM_IDS["pixel_height"]
                                            and out["height"] is None):
                                        out["height"] = v
                            elif fid == _WEBM_IDS["audio"]:
                                for aid, aa, ab in _ebml_walk(
                                        payload, fa, fb):
                                    if (aid == _WEBM_IDS[
                                            "sampling_frequency"]
                                            and out["sample_rate"]
                                            is None):
                                        w = ab - aa
                                        out["sample_rate"] = int(
                                            _struct.unpack(
                                                ">f" if w == 4 else ">d",
                                                payload[aa:ab])[0])
                                    elif (aid == _WEBM_IDS["channels"]
                                            and out["channels"] is None):
                                        out["channels"] = int.from_bytes(
                                            payload[aa:ab], "big")
                        if ttype == 1:
                            out["n_video"] += 1
                        elif ttype == 2:
                            out["n_audio"] += 1
                # Clusters and everything else: skipped by size
    if raw_duration is not None:
        out["duration_ms"] = int(raw_duration * scale / 1_000_000)
    out["codecs"] = ",".join(sorted(codecs)) if codecs else None
    return out


def webm_stats(
    df: DataFrame, id_col: str, data_col: str = "data"
) -> DataFrame:
    """WebM/Matroska metadata columns for a binary column — EBML walk,
    Clusters skipped."""
    return header_stats(
        df, id_col, data_col, parse_webm,
        "doctype string, duration_ms bigint, n_tracks bigint, n_video bigint, "
        "n_audio bigint, width bigint, height bigint, sample_rate bigint, "
        "channels bigint, codecs string",
    )


# ---------------------------------------------------------------------------
# AVIF/HEIF metadata — ISOBMFF item-based images (HEIF per ISO/IEC
# 23008-12; AVIF brand/av01 bindings per the public AOM "AV1 Image File
# Format" spec, aomediacodec.github.io/av1-avif).  Reuses the MP4 box
# walker; reads the meta-box item tree (iinf/infe item types, iprp/ipco
# ispe dimensions + pixi bit depth) — no AV1 decode.
# ---------------------------------------------------------------------------


def _full_payload(data: bytes, ps: int) -> tuple[int, int]:
    """Split a FullBox payload: returns (version, first content byte)."""
    return data[ps], ps + 4


def encode_avif_meta(
    *,
    width: int,
    height: int,
    bit_depth: int = 8,
    has_exif: bool = False,
    animated: bool = False,
) -> bytes:
    """Fixture writer: a structurally valid AVIF meta tree (ftyp +
    meta(hdlr, pitm, iinf/infe, iprp/ipco(ispe, pixi)) + filler mdat).
    Headers are real; the AV1 payload is filler (the module's fixture
    contract)."""
    def box(kind: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + kind + payload

    def full(kind: bytes, payload: bytes, version: int = 0) -> bytes:
        return box(kind, bytes([version, 0, 0, 0]) + payload)

    brand = b"avis" if animated else b"avif"
    ftyp = box(b"ftyp", brand + bytes(4) + brand + b"mif1")
    hdlr = full(b"hdlr", bytes(4) + b"pict" + bytes(12) + b"\x00")
    pitm = full(b"pitm", (1).to_bytes(2, "big"))
    infes = [full(
        b"infe", (1).to_bytes(2, "big") + bytes(2) + b"av01" + b"\x00",
        version=2,
    )]
    if has_exif:
        infes.append(full(
            b"infe", (2).to_bytes(2, "big") + bytes(2) + b"Exif" + b"\x00",
            version=2,
        ))
    iinf = full(b"iinf", len(infes).to_bytes(2, "big") + b"".join(infes))
    ispe = full(b"ispe", struct.pack(">II", width, height))
    pixi = full(b"pixi", bytes([3, bit_depth, bit_depth, bit_depth]))
    iprp = box(b"iprp", box(b"ipco", ispe + pixi))
    meta = full(b"meta", hdlr + pitm + iinf + iprp)
    mdat = box(b"mdat", bytes(32))
    return ftyp + meta + mdat


def parse_avif(data: bytes) -> dict:
    """Walk the AVIF/HEIF meta tree.  Returns ``{brand, width, height,
    bit_depth, n_items, has_exif, is_animated}``; loud on a missing
    ftyp/avif brand or malformed boxes."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISOBMFF file (ftyp missing)")
    out = {
        "brand": None, "width": None, "height": None, "bit_depth": None,
        "n_items": 0, "has_exif": False, "is_animated": False,
    }
    for kind, ps, pe in _mp4_boxes(data, 0, len(data)):
        if kind == b"ftyp":
            out["brand"] = data[ps:ps + 4].decode("ascii", "replace")
            if out["brand"] not in ("avif", "avis", "mif1", "heic",
                                    "heix"):
                raise ValueError(
                    f"not an AVIF/HEIF brand: {out['brand']!r}"
                )
            out["is_animated"] = out["brand"] == "avis"
        elif kind == b"meta":
            _, cs = _full_payload(data, ps)
            for k2, qs, qe in _mp4_boxes(data, cs, pe):
                if k2 == b"iinf":
                    ver, es = _full_payload(data, qs)
                    if ver == 0:
                        n = struct.unpack_from(">H", data, es)[0]
                        es += 2
                    else:
                        n = struct.unpack_from(">I", data, es)[0]
                        es += 4
                    out["n_items"] = n
                    for k3, rs, _re in _mp4_boxes(data, es, qe):
                        if k3 != b"infe":
                            continue
                        iver, ics = _full_payload(data, rs)
                        if iver < 2:
                            continue  # pre-HEIF infe carries no type
                        itype = data[ics + 4:ics + 8]
                        if itype == b"Exif":
                            out["has_exif"] = True
                elif k2 == b"iprp":
                    for k3, rs, re_ in _mp4_boxes(data, qs, qe):
                        if k3 != b"ipco":
                            continue
                        for k4, ss, se in _mp4_boxes(data, rs, re_):
                            if k4 == b"ispe" and out["width"] is None:
                                _, vs = _full_payload(data, ss)
                                w, h = struct.unpack_from(">II", data, vs)
                                out["width"], out["height"] = w, h
                            elif (k4 == b"pixi"
                                    and out["bit_depth"] is None):
                                _, vs = _full_payload(data, ss)
                                nch = data[vs]
                                if nch:
                                    out["bit_depth"] = data[vs + 1]
    if out["brand"] is None:
        raise ValueError("ftyp box missing")
    return out


def avif_stats(
    df: DataFrame, id_col: str, data_col: str = "data"
) -> DataFrame:
    """AVIF/HEIF metadata columns for a binary column — box walk, no AV1
    decode."""
    return header_stats(
        df, id_col, data_col, parse_avif,
        "brand string, width bigint, height bigint, bit_depth bigint, "
        "n_items bigint, has_exif boolean, is_animated boolean",
    )


# ---------------------------------------------------------------------------
# ID3v2 text frames — the tag block the MP3 walker skips (id3.org
# ID3v2.3/2.4 informal standards): frame walk over TIT2/TPE1/TALB/...
# text frames with the $00 Latin-1 and $03 UTF-8 encodings.
# ---------------------------------------------------------------------------


def encode_id3v2(tags: dict, version: int = 4) -> bytes:
    """Fixture writer: an ID3v2.3/2.4 tag block holding text frames.
    ``tags`` maps 4-char frame ids (``TIT2``...) to strings (UTF-8,
    encoding byte $03)."""
    if version not in (3, 4):
        raise ValueError("id3 version must be 3 or 4")
    frames = b""
    for fid, text in tags.items():
        if len(fid) != 4:
            raise ValueError(f"bad ID3 frame id {fid!r}")
        body = b"\x03" + text.encode("utf-8")
        if version == 4:  # syncsafe frame size
            sz = bytes((len(body) >> s) & 0x7F for s in (21, 14, 7, 0))
        else:
            sz = len(body).to_bytes(4, "big")
        frames += fid.encode("ascii") + sz + b"\x00\x00" + body
    ss = bytes((len(frames) >> s) & 0x7F for s in (21, 14, 7, 0))
    return b"ID3" + bytes([version, 0, 0]) + ss + frames


def parse_id3_tags(payload: bytes) -> dict:
    """Parse the leading ID3v2 tag block (if any): returns ``{version,
    title, artist, album, n_frames}`` — text frames only, $00 Latin-1
    and $03 UTF-8 encodings, v2.4 syncsafe / v2.3 plain frame sizes.
    Files without a tag return zeros/Nones (not an error: bare MP3 is
    legal)."""
    out = {"version": None, "title": None, "artist": None,
           "album": None, "n_frames": 0}
    if payload[:3] != b"ID3" or len(payload) < 10:
        return out
    version = payload[3]
    out["version"] = version
    size = 0
    for b in payload[6:10]:
        size = (size << 7) | (b & 0x7F)
    end = min(10 + size, len(payload))
    i = 10
    want = {b"TIT2": "title", b"TPE1": "artist", b"TALB": "album"}
    while i + 10 <= end:
        fid = payload[i:i + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        if version == 4:
            fsz = 0
            for b in payload[i + 4:i + 8]:
                fsz = (fsz << 7) | (b & 0x7F)
        else:
            fsz = int.from_bytes(payload[i + 4:i + 8], "big")
        if i + 10 + fsz > end:
            raise ValueError(
                f"ID3 frame {fid!r} extends past the tag block"
            )
        body = payload[i + 10:i + 10 + fsz]
        out["n_frames"] += 1
        if fid in want and fsz >= 1:
            enc = body[0]
            text = body[1:]
            if enc == 0x00:
                val = text.decode("latin-1")
            elif enc == 0x03:
                val = text.decode("utf-8", "replace")
            else:  # UTF-16 variants: decode best-effort
                val = text.decode("utf-16", "replace")
            out[want[fid]] = val.rstrip("\x00")
        i += 10 + fsz
    return out


def id3_stats(
    df: DataFrame, id_col: str, data_col: str = "data"
) -> DataFrame:
    """ID3v2 text-frame columns for a binary column."""

    def row(rid, raw):
        m = parse_id3_tags(raw)
        yield (rid, m["version"], m["title"], m["artist"], m["album"],
               m["n_frames"])

    return per_row(
        df, [id_col, data_col], row,
        f"`{id_col}` bigint, id3_version bigint, title string, "
        "artist string, album string, n_frames bigint",
    )
